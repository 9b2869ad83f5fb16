"""The narrow path's output batch: assembled from Arrow buffers, equal
to the ``pa.array`` conversion it replaces, in a worker that never
imports pandas."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from freki_spark import fixtures, kernel
from freki_spark.pipeline import (
    _SPANS_ARROW,
    DOC_SCHEMA,
    _offsets,
    _spans_array,
    _string_array,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs _extract_docs_arrow the way a mapInArrow worker does, on a fresh
# interpreter: Arrow batches in, Arrow batches out
_WORKER = """
import sys

import pyarrow as pa

from freki_spark.pipeline import _extract_docs_arrow

src, dst = sys.argv[1:]
with pa.ipc.open_stream(src) as reader:
    out = list(_extract_docs_arrow(iter(reader)))
with pa.ipc.new_stream(dst, out[0].schema) as writer:
    for rb in out:
        writer.write_batch(rb)
assert "pandas" not in sys.modules, "the narrow path imported pandas"
"""


def _narrow_docs() -> list[dict]:
    return [
        fixtures.make_doc("np-media", 5, "media"),
        fixtures.make_html_doc("np-html", seed=3, profile="img_media"),
        fixtures.make_doc("np-corrupt", 3, "corrupt"),
    ]


def test_narrow_path_never_imports_pandas(tmp_path):
    """An XML doc with media, an HTML doc and a quarantined doc run
    through ``_extract_docs_arrow`` in a subprocess that holds no pandas
    afterwards, and come out as ``kernel.extract_document_rows`` says."""
    docs = _narrow_docs()
    schema = to_arrow_schema(DOC_SCHEMA)
    src, dst = tmp_path / "in.arrows", tmp_path / "out.arrows"
    with pa.ipc.new_stream(str(src), schema) as writer:
        writer.write_batch(pa.RecordBatch.from_pylist(docs, schema))
        writer.write_batch(pa.RecordBatch.from_pylist([], schema))
    env = {**os.environ, "PYTHONPATH": ROOT}
    run = subprocess.run(
        [sys.executable, "-c", _WORKER, str(src), str(dst)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
    )
    assert run.returncode == 0, run.stderr
    with pa.ipc.open_stream(str(dst)) as reader:
        got = reader.read_all()
    assert got.num_rows == len(docs)
    expected = []
    for d in docs:
        rows, err = kernel.extract_document_rows(d["doc_id"], d["spans"])
        expected.append({"doc_id": d["doc_id"], "spans": rows, "error": err})
    assert got.to_pylist() == expected
    assert expected[0]["spans"] and expected[1]["spans"] and expected[2]["error"]


def _span(kind: str, text: str, media_ref: str | None, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


_CASES = {
    "non-ascii": (
        [
            [
                _span("line", "Zürich — naïve ☃ 𝄞", None, 0),
                _span("media", "figüre", "réf-☃", 1),
            ]
        ],
        [None],
    ),
    "null-media-ref": (
        [[_span("line", "a", None, 0), _span("block", "b", None, 1), _span("media", "", "m", 2)]],
        [None],
    ),
    "zero-span-docs": ([[], [_span("line", "x", None, 0)], []], [None, None, None]),
    "all-quarantined": (
        [[], []],
        ["xml-parse-error: mismatched tag: line 1, column 9", "span-null-field: span"],
    ),
    "zero-rows": ([], []),
}


def _kernel_case() -> tuple[list, list]:
    spans_out, errors = [], []
    for d in _narrow_docs():
        rows, err = kernel.extract_document_rows(d["doc_id"], d["spans"])
        spans_out.append(rows)
        errors.append(err)
    return spans_out, errors


@pytest.mark.parametrize("case", [*_CASES, "kernel-output"])
def test_assembled_columns_equal_pa_array(case):
    """``_spans_array`` and ``_string_array`` give the type and values
    of the ``pa.array`` conversion they replace."""
    spans_out, errors = _CASES[case] if case in _CASES else _kernel_case()
    spans = _spans_array(spans_out)
    spans.validate(full=True)
    assert spans.type == _SPANS_ARROW
    assert spans.equals(pa.array(spans_out, _SPANS_ARROW))
    error = _string_array(errors)
    error.validate(full=True)
    assert error.type == pa.string()
    assert error.equals(pa.array(errors, pa.string()))
    assert error.null_count == errors.count(None)


def test_offsets_past_two_gib_fail_loudly():
    """A column past 2 GiB would wrap its 32-bit offsets: it raises."""
    assert _offsets([2**31 - 2, 1]).tolist() == [0, 2**31 - 2, 2**31 - 1]
    with pytest.raises(OverflowError, match="2 GiB"):
        _offsets([2**31 - 1, 1])
