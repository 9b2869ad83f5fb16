"""The Spark extraction pipeline (P1–P13 of SURVEY.md §2.2).

Dataflow (north-star lifecycle, SURVEY.md §3.2):

    scan (doc_id, spans)                      -- columnar, pruned
    route: salted = size(spans) > τ, no risky markup, no html span
      ├─ not salted : mapInArrow(extract)               -- NO shuffle
      └─ salted     : salted mega-doc path (S7), planned only when
                      the routing check finds a salted doc
           stage 1  mapInPandas: the kernel's reading order over
                    regex-split page pieces, salted by page
           stage 2  groupBy(doc_id, salt).applyInPandas: per-shard
                    layout into records that carry no doc
                    position, one row per shard          -- 1 shuffle
           stage 3  groupBy(doc_id).applyInPandas: concatenate the
                    shards' records in doc order and render them
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
  per doc and laid out in parallel; one cheap per-doc pass then
  concatenates the shards' records in doc order and renders the spans
  through the narrow path's own serializer, which numbers the lines and
  fonts.
- Corrupt XML and null span fields never fail a task: quarantined docs
  come back with spans=[] and a non-null error column (split with
  ``split_quarantine``).

Reference parity: this file replaces freki/main.py's single-process
eager loop [U]; layout semantics live in freki_spark.kernel.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator
from itertools import accumulate
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from . import kernel, spec

# pandas is imported inside S7's three stage functions only.  Every
# executor core forks a Python worker for the narrow path, and a worker
# that never loads pandas holds about 30 MB less; the narrow path builds
# its output from Arrow buffers because pa.array imports pandas on its
# first call, whatever its input.
if TYPE_CHECKING:
    import pandas as pd

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
        T.StructField("pos", T.IntegerType()),  # the doc's reading order
        T.StructField("item_type", T.StringType()),  # page | media | error | empty
        T.StructField("payload", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("dialect", T.StringType()),
        T.StructField("page", T.IntegerType()),  # a page's 1-based position
    ]
)

# one kernel.layout_records record: the fields finalize_records reads
_RECORD_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("block_k", T.IntegerType()),
        T.StructField("n_lines", T.IntegerType()),
        T.StructField("fonts_keys", T.ArrayType(T.StringType())),
        T.StructField("body", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)

_STAGE2_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("records", T.ArrayType(_RECORD_STRUCT)),
        T.StructField("error", T.StringType()),
    ]
)


# --------------------------------------------------------------------------
# unsalted fast path
# --------------------------------------------------------------------------


_SPANS_ARROW = to_arrow_type(DOC_SCHEMA["spans"].dataType)


def _offsets(lengths: Iterable[int]) -> np.ndarray:
    """Arrow int32 offsets of values of these lengths: 0, then their
    running sums.  Past 2 GiB a 32-bit offset would wrap, so a batch
    that large fails loudly instead."""
    ends = np.fromiter(accumulate(lengths, initial=0), np.int64)
    if ends[-1] > np.iinfo(np.int32).max:
        raise OverflowError(
            f"{ends[-1]} values or bytes in one Arrow batch column: past the "
            "2 GiB limit of 32-bit offsets"
        )
    return ends.astype(np.int32)


def _int32_array(values: np.ndarray) -> pa.Array:
    """A non-null int32 Arrow array over an int32 numpy array's buffer."""
    return pa.Array.from_buffers(pa.int32(), len(values), [None, pa.py_buffer(values)])


def _string_array(values: list[str | None]) -> pa.Array:
    """A ``pa.string()`` array built from its buffers: the values' UTF-8
    bytes end to end, their offsets, and a validity bitmap only when a
    value is None (a None holds no bytes)."""
    data = [b"" if v is None else v.encode() for v in values]
    n_null = values.count(None)
    bitmap = None
    if n_null:
        bitmap = pa.py_buffer(np.packbits([v is not None for v in values], bitorder="little"))
    return pa.StringArray.from_buffers(
        len(values),
        pa.py_buffer(_offsets(map(len, data))),
        pa.py_buffer(b"".join(data)),
        bitmap,
        n_null,
    )


def _spans_array(docs: list[list[dict]]) -> pa.Array:
    """The ``spans`` column of a batch, of type ``_SPANS_ARROW``: the
    kernel's span dicts of every doc as one struct array, cut into one
    list per doc by int32 offsets."""
    flat = [s for spans in docs for s in spans]
    fields = [_string_array([s[f] for s in flat]) for f in ("kind", "text", "media_ref")]
    fields.append(_int32_array(np.fromiter((s["offset"] for s in flat), np.int32, len(flat))))
    structs = pa.StructArray.from_arrays(fields, fields=list(_SPANS_ARROW.value_type))
    offsets = _int32_array(_offsets(map(len, docs)))
    return pa.ListArray.from_arrays(offsets, structs, type=_SPANS_ARROW)


def _extract_docs_arrow(batches):
    """mapInArrow fast path: the kernel runs per doc, and each output
    batch is assembled from Arrow buffers (``_spans_array``,
    ``_string_array``), the input ``doc_id`` column passed through.  No
    ``pa.array`` call and no pandas: a narrow-path worker never imports
    pandas (``tests/test_narrow_arrow.py``)."""
    for rb in batches:
        doc_ids = rb.column("doc_id")
        spans_out: list[list[dict]] = []
        errors: list[str | None] = []
        for doc_id, spans in zip(doc_ids.to_pylist(), rb.column("spans").to_pylist()):
            rows, err = kernel.extract_document_rows(doc_id, spans or [])
            spans_out.append(rows)
            errors.append(err)
        yield pa.RecordBatch.from_arrays(
            [doc_ids.cast(pa.string()), _spans_array(spans_out), _string_array(errors)],
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
    """Stage-1 rows of one mega-doc: the kernel's reading order over its
    page pieces (``kernel.page_pieces``: the narrow path's expat
    acceptance and page cut, ``fastparse.page_cuts``, with no tree parse
    of the whole doc).  Page i goes to salt ``i // per_group``, so a doc
    has at most SALT_MAX_GROUPS shards, and carries its position i + 1,
    which numbers it in stage 2 when its element has no number; a media
    span takes the salt of the page before it (0 in the prologue).  A
    quarantined doc is one ``error`` row."""
    err = kernel.null_field_error(spans)
    if err is None:
        spans = sorted(spans, key=lambda s: s["offset"])
        dialect, items, err = kernel.reading_order(spans, kernel.page_pieces)
    if err is not None:
        return [(doc_id, 0, 0, "error", err, "", "", 0)]
    n_pages = sum(isinstance(it, str) for it in items)
    per_group = max(1, math.ceil(n_pages / spec.SALT_MAX_GROUPS))
    rows = []
    page = salt = 0
    for pos, it in enumerate(items):
        if isinstance(it, str):
            salt = page // per_group
            page += 1
            rows.append((doc_id, salt, pos, "page", it, "", dialect, page))
        else:
            rows.append((doc_id, salt, pos, "media", it["text"], it["media_ref"], dialect, 0))
    return rows


def _stage1_split(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per mega-doc: ``_split_doc``.  A doc that yields no item (no page
    and no media) still emits one ``empty`` marker row, so the doc
    reaches stage 3 and comes out as (doc_id, [], null) like on the
    unsalted path."""
    import pandas as pd

    for pdf in it:
        rows: list[tuple] = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            rows += _split_doc(doc_id, spans) or [(doc_id, 0, 0, "empty", "", "", "", 0)]
        yield pd.DataFrame(rows, columns=_STAGE1_SCHEMA.names)


def _stage2_layout(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per (doc_id, salt) group: lay out the page shard.  Emits one row:
    the shard's records in reading order and its error (null, or the
    doc's quarantine error with no records)."""
    import pandas as pd

    pdf = pdf.sort_values("pos")
    records, err = kernel.extract_group_records(
        zip(pdf["item_type"], pdf["payload"], pdf["media_ref"], pdf["page"].tolist()),
        pdf["dialect"].iloc[0],
    )
    row = [pdf["doc_id"].iloc[0], pdf["salt"].iloc[0], records, err]
    return pd.DataFrame([row], columns=_STAGE2_SCHEMA.names)


def _stage3_assemble(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per doc: the first shard error, or the shards' records
    concatenated in salt order (shards are disjoint, ordered slices of
    the doc, and arrive in no particular order) and rendered by the
    narrow path's ``kernel.finalize_records``."""
    import pandas as pd

    doc_id = pdf["doc_id"].iloc[0]
    shards = pdf.sort_values("salt")
    errors = shards["error"].dropna()
    if len(errors):
        return pd.DataFrame([[doc_id, [], errors.iloc[0]]], columns=EXTRACTED_SCHEMA.names)
    spans = kernel.finalize_records(doc_id, [r for recs in shards["records"] for r in recs])
    return pd.DataFrame([[doc_id, spans, None]], columns=EXTRACTED_SCHEMA.names)


def extract_salted(df: DataFrame) -> DataFrame:
    """Mega-document path: page-parallel layout, then a per-doc render.

    Plan shape (2 shuffles, over page pieces and then over one row of
    layout records per shard — never raw XML bytes twice):

      1. ``mapInPandas`` — the kernel's reading order over page pieces,
         salted by page;
      2. ``groupBy(doc_id, salt).applyInPandas`` — the page-shard layout,
         the work that fans out over executors, one row per shard;
      3. ``groupBy(doc_id).applyInPandas`` — one task per doc
         concatenates its shards' records and renders the spans; a doc
         whose shards hold no record, or carry an error, comes out of
         the same group.
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
    - docs whose XML text (their XML chunks joined in offset order, as
      the kernel joins them) holds a comment, CDATA, DTD or processing
      instruction (any ``<!``, or ``<?`` beyond a position-0 XML
      declaration) take the UNSALTED path regardless of size: the
      salted path's page cut (``fastparse.page_cuts``, a lexical scan)
      cannot see markup context, so a ``<Page`` inside a comment would
      create phantom piece boundaries there — whole-document parsing
      defines the semantics, so risky docs go where the whole document
      is parsed.  Where the chunks are cut does not matter.  The check
      is one JVM-side scan of the joined text (``_risky_markup``),
      narrow, and ``n > τ`` comes first so that only docs above τ build
      the text;
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
    """True when a doc's XML text holds a comment, CDATA, DTD or PI.

    The text is the doc's XML chunks joined in offset order (input
    position breaks ties), as the kernel joins them, so a ``<!`` or
    ``<?`` split across chunks is seen whole.  The only exempt ``<?`` is
    a true XML declaration, ``<?xml`` plus whitespace at position 0
    (``xml`` is a reserved PI target, so the prefix is unambiguous);
    ``fastparse.fast_eligible`` applies the same rule.

    The text is bound once, as the one element of an array: written
    out four times, subexpression elimination would hoist it out of
    ``salted``'s ``And`` and build it for every doc, not only for the
    docs above τ."""
    chunks = F.filter(spans, lambda s: s["kind"].isin(*spec.XML_KINDS))
    keyed = F.transform(
        chunks, lambda s, i: F.struct(s["offset"].alias("o"), i.alias("i"), s["text"].alias("t"))
    )
    xml = F.array_join(F.transform(F.sort_array(keyed), lambda s: s["t"]), "")

    def _markup(x: Column) -> Column:
        decl = F.substring(x, 1, 6).isin("<?xml ", "<?xml\t", "<?xml\r", "<?xml\n")
        pi = F.when(decl, F.locate("<?", x, 2)).otherwise(F.locate("<?", x, 1)) > 0
        return x.contains("<!") | pi

    return F.coalesce(F.exists(F.array(xml), _markup), F.lit(False))


def split_quarantine(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good docs (doc_id, spans), quarantine (doc_id, error))."""
    good = extracted.filter(F.col("error").isNull()).select("doc_id", "spans")
    bad = extracted.filter(F.col("error").isNotNull()).select("doc_id", "error")
    return good, bad
