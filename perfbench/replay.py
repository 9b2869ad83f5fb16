"""Single-core, in-process replay of a corpus through the extraction
kernel, timing its module-level stage functions.

The replay feeds the corpus to ``pipeline._extract_docs_arrow`` in
Arrow batches of the job's ``maxRecordsPerBatch``, as the ``mapInArrow``
narrow path does inside a Python worker, and replays S7 stage 2
(``pipeline._stage2_layout``) over a sample of the salted docs' page
shards.  Timers are installed by replacing module attributes for the
duration of the replay only; every target is looked up first, so a
renamed stage function fails the replay instead of reading as zero.
"""

from __future__ import annotations

import collections
import contextlib
import importlib
import time

from freki_spark import spec

BATCH_ROWS = 1024  # spark.sql.execution.arrow.maxRecordsPerBatch of the job
SHARDS_PER_SALTED_DOC = 4

# S2-S6 stage function -> metric stem
LAYOUT_STAGES = {
    "cluster_lines": "cluster_lines",
    "detect_columns": "detect_columns",
    "segment_blocks": "segment_blocks",
    "render_spacing": "render_spacing",
    "finalize_records": "finalize",
}
TARGETS = (
    "freki_spark.kernel.extract_document_rows",
    "freki_spark.kernel._parse_tetml_et",
    "freki_spark.kernel._parse_pdfminer_et",
    "freki_spark.kernel.extract_group_records",
    *(f"freki_spark.kernel.{s}" for s in LAYOUT_STAGES),
    "freki_spark.fastparse.parse_tetml_fast",
    "freki_spark.fastparse.parse_pdfminer_fast",
    "freki_spark.html_kernel.extract_document_rows",
    "freki_spark.html_kernel.analyze_slow",
    "freki_spark.html_fastscan.scan",
)
_DIALECT = {spec.KIND_TETML: "tetml", spec.KIND_PDFMINER: "pdfminer", spec.KIND_HTML: "html"}


def dialect(spans) -> str:
    """Dialect the kernel dispatches on: the first chunk's kind."""
    kinds = [s["kind"] for s in sorted(spans, key=lambda s: s["offset"]) if s["kind"] in spec.CHUNK_KINDS]
    return _DIALECT[kinds[0]] if kinds else "media"


class Ledger:
    """Nanoseconds and calls per timer key.  ``dialects`` maps doc_id to
    its dialect, computed before the replay so that the kernel entry's
    timer does no per-doc work outside its own interval."""

    def __init__(self, dialects: dict[str, str]):
        self.dialects = dialects
        self.ns = collections.Counter()
        self.calls = collections.Counter()
        self.fast_parse_misses = 0

    def wrap(self, key: str, fn):
        by_dialect = key == "freki_spark.kernel.extract_document_rows"

        def timed(*args, **kwargs):
            t0 = time.perf_counter_ns()
            name = f"{key}:{self.dialects[args[0]]}" if by_dialect else key
            self.calls[name] += 1
            try:
                result = fn(*args, **kwargs)
            finally:
                self.ns[name] += time.perf_counter_ns() - t0
            if key.startswith("freki_spark.fastparse.") and result is None:
                self.fast_parse_misses += 1
            return result

        return timed


def resolve(target: str):
    module, _, attr = target.rpartition(".")
    mod = importlib.import_module(module)
    if not callable(getattr(mod, attr, None)):
        raise AttributeError(f"replay target {target} no longer exists")
    return mod, attr


@contextlib.contextmanager
def wrapped(ledger: Ledger):
    found = [resolve(t) for t in TARGETS]  # all lookups before any patch
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr in found]
    try:
        for (mod, attr, fn), target in zip(originals, TARGETS):
            setattr(mod, attr, ledger.wrap(target, fn))
        yield ledger
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)


def _per(ns: int, n: int) -> float:
    return ns / 1e6 / n if n else 0.0


def replay(docs_dir, salted_ids: set[str], keep_outputs: bool = False):
    """Replay the corpus at ``docs_dir``.  Returns (metrics, outputs):
    ``outputs`` maps doc_id -> (spans, error) of the narrow replay when
    ``keep_outputs``."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from freki_spark import pipeline

    table = ds.dataset(str(docs_dir), format="parquet").to_table()
    dialects = {r["doc_id"]: dialect(r["spans"]) for r in table.to_pylist()}
    is_salted = pa.array([d in salted_ids for d in table.column("doc_id").to_pylist()])
    narrow = table.filter(pc.invert(is_salted))
    salted = table.filter(is_salted)

    outputs = {}
    with wrapped(Ledger(dialects)) as led:
        t0 = time.perf_counter_ns()
        for rb in pipeline._extract_docs_arrow(iter(narrow.to_batches(max_chunksize=BATCH_ROWS))):
            if keep_outputs:
                for row in rb.to_pylist():
                    outputs[row["doc_id"]] = (row["spans"], row["error"])
        total_ns = time.perf_counter_ns() - t0

    with wrapped(Ledger(dialects)) as group:
        shards = 0
        if salted.num_rows:
            docs = pd.DataFrame({"doc_id": salted.column("doc_id").to_pylist(), "spans": salted.column("spans").to_pylist()})
            st1 = pd.concat(list(pipeline._stage1_split(iter([docs]))))
            for (_doc, salt), shard in st1.groupby(["doc_id", "salt"]):
                if salt < SHARDS_PER_SALTED_DOC:
                    pipeline._stage2_layout(shard)
                    shards += 1

    edr = "freki_spark.kernel.extract_document_rows"
    docs_of = {d: led.calls[f"{edr}:{d}"] for d in ("tetml", "pdfminer", "html")}
    xml_docs = docs_of["tetml"] + docs_of["pdfminer"]
    kernel_ns = sum(v for k, v in led.ns.items() if k.startswith(edr + ":"))
    ns = led.ns
    metrics = {
        "pipeline.assembly_ms_per_doc": _per(total_ns - kernel_ns, narrow.num_rows),
        "kernel.ms_per_doc.tetml": _per(ns[f"{edr}:tetml"], docs_of["tetml"]),
        "kernel.ms_per_doc.pdfminer": _per(ns[f"{edr}:pdfminer"], docs_of["pdfminer"]),
        "kernel.parse_ms_per_doc.tetml": _per(
            ns["freki_spark.fastparse.parse_tetml_fast"] + ns["freki_spark.kernel._parse_tetml_et"], docs_of["tetml"]
        ),
        "kernel.parse_ms_per_doc.pdfminer": _per(
            ns["freki_spark.fastparse.parse_pdfminer_fast"] + ns["freki_spark.kernel._parse_pdfminer_et"],
            docs_of["pdfminer"],
        ),
        "kernel.et_fallback_docs": led.fast_parse_misses,
        **{f"kernel.{m}_ms_per_doc": _per(ns[f"freki_spark.kernel.{s}"], xml_docs) for s, m in LAYOUT_STAGES.items()},
        "kernel.group_ms_per_shard": _per(group.ns["freki_spark.kernel.extract_group_records"], shards),
        "html_kernel.ms_per_doc": _per(ns["freki_spark.html_kernel.extract_document_rows"], docs_of["html"]),
        "html_kernel.scan_ms_per_doc": _per(ns["freki_spark.html_fastscan.scan"], docs_of["html"]),
        "html_kernel.fallback_docs": led.calls["freki_spark.html_kernel.analyze_slow"],
    }
    return metrics, outputs
