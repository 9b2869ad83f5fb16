"""Seeded benchmark corpora with per-document oracle digests.

Two corpora, each a pure function of the workload seed:

- ``xml``: the ``bench.ensure_corpus`` profile mix (random docs in both
  dialects, ~1% corrupt, ~0.5% 12-page mega docs);
- ``mix``: docs of the XML mix, docs of the ``bench.ensure_html_corpus``
  profile mix (random articles, mega pages, tag soup, link farms), and
  one doc of many pages whose input span count exceeds
  ``spec.SALT_SPAN_THRESHOLD``, so the production router sends them
  down the salted (S7) path.

Sizes are small because a call's wall is mostly fixed cost: on a 4-core
host 24 docs took as long as 300.

Each corpus is written once per seed as parquet under the benchmark's
work directory, next to a small ``warm`` slice and ``oracle.json``: the
sha256 digest of every document's ``(spans, error)`` as computed by the
independent oracles (``oracle.extract_document``,
``html_oracle.extract_document``).  Generation and digests run in a
process pool before Spark starts, untimed.
"""

from __future__ import annotations

import collections
import hashlib
import json
import multiprocessing
import shutil
from dataclasses import dataclass
from pathlib import Path

# pages of the salted doc: its S7 stage-2 shards carry real layout work
MEGA_PAGES = 120
# XML chunks per mega doc; media spans carry its span count past the
# threshold.  This is not the fixture shape (about 4 chunks per page and
# a few media spans), and it keeps the router's cost out of the
# benchmark: the risky-markup check costs O(chunks x spans) per doc
# (its exists() lambda re-evaluates the first-chunk offset over all
# spans for every chunk).  On 4 cores one fixture-shaped doc of 2500
# pages (10^4 chunks, 31.7 MB of XML) took 87 s in a session's first
# extract() call and 33-43 s in later ones; three such docs took 116 s
# per call.  No run budget fits that.
MEGA_CHUNKS = 64
# the set-up's warm-up slice: enough docs to start a Python worker per core
WARM_DOCS = 32
# file count fixes the input split layout independently of the host
FILES = 16
_TASK_DOCS = 25


@dataclass
class Corpus:
    name: str
    seed: int
    docs_dir: Path
    warm_dir: Path
    digests: dict[str, str]
    identity: dict
    salted_ids: set[str]


def digest(spans, error) -> str:
    """Digest of one document's output; ``spans`` is a list of
    kind/text/media_ref/offset mappings, as emitted by the pipeline."""
    rows = [[s["kind"], s["text"], s["media_ref"], int(s["offset"])] for s in spans]
    blob = json.dumps([rows, error], ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8", "surrogatepass")).hexdigest()


def xml_profile(i: int) -> str:
    # the residues of bench.ensure_corpus
    if i % 97 == 13:
        return "corrupt"
    if i % 211 == 7:
        return "mega"
    return "random"


def html_profile(i: int) -> str:
    # the residues of bench.ensure_html_corpus
    if i % 13 == 5:
        return "mega_html"
    if i % 29 == 11:
        return "messy"
    if i % 31 == 3:
        return "linkfarm"
    return "random_html"


def chunk_without_markup_risk(xml: str, dialect: str, doc_id: str, rng, n_chunks: int, n_media: int):
    """Split ``xml`` into ``n_chunks`` spans with ``n_media`` media spans
    interleaved.  No chunk ends in ``<``: the router treats such a chunk
    as possible markup split across spans and keeps the doc off the
    salted path, which the mega docs exist to exercise."""
    import numpy as np

    cuts: list[int] = []
    for c in np.linspace(0, len(xml), n_chunks + 1)[1:-1].astype(int).tolist():
        while xml[c - 1] == "<":
            c += 1
        if not cuts or c > cuts[-1]:
            cuts.append(c)
    bounds = [0, *cuts, len(xml)]
    chunks = [xml[a:b] for a, b in zip(bounds, bounds[1:])]
    slots = collections.Counter(int(s) for s in rng.integers(0, len(chunks), n_media))
    spans: list[dict] = []
    media = 0
    for ci, text in enumerate(chunks):
        for _ in range(slots[ci]):
            spans.append(
                {"kind": "media", "text": "", "media_ref": f"img://{doc_id}/{media}", "offset": len(spans)}
            )
            media += 1
        spans.append({"kind": dialect, "text": text, "media_ref": "", "offset": len(spans)})
    return spans


def mega_doc(doc_id: str, seed: int, n_pages: int = MEGA_PAGES) -> dict:
    """A TETML doc of ``n_pages`` single-column pages built with the
    fixture page builders, with more input spans than the salting
    threshold."""
    from freki_spark import fixtures, spec

    rng = fixtures._doc_rng(doc_id, seed)
    pages = [fixtures._gen_page_words(rng, False, 2, fixtures.FONTS, False, False) for _ in range(n_pages)]
    xml = fixtures._render_tetml(pages, rng)
    n_media = spec.SALT_SPAN_THRESHOLD + 64 - MEGA_CHUNKS
    spans = chunk_without_markup_risk(xml, spec.KIND_TETML, doc_id, rng, MEGA_CHUNKS, n_media)
    if len(spans) <= spec.SALT_SPAN_THRESHOLD:
        raise ValueError(f"{doc_id}: {len(spans)} spans do not exceed the salting threshold")
    return {"doc_id": doc_id, "spans": spans}


# corpus -> (XML docs, HTML docs, salted mega docs)
SIZES = {"xml": (200, 0, 0), "mix": (100, 200, 1)}


def _doc(shape: tuple[int, int, int, int], seed: int, i: int) -> tuple[str, dict]:
    """Doc ``i`` of a corpus of ``shape`` (XML docs, HTML docs, mega
    docs, pages per mega doc): its XML docs, then its HTML docs, then
    the mega docs."""
    from freki_spark import fixtures

    n_xml, n_html, _, pages = shape
    if i < n_xml:
        profile = xml_profile(i)
        return profile, fixtures.make_doc(f"x{seed}-{i:06d}", seed, profile)
    i -= n_xml
    if i < n_html:
        profile = html_profile(i)
        return profile, fixtures.make_html_doc(f"h{seed}-{i:06d}", seed, profile)
    return "salted_mega", mega_doc(f"m{seed}-{i - n_html:02d}", seed, pages)


def _build(task: tuple[tuple, int, int, int]) -> list[tuple]:
    """Pool task: docs [lo, hi) of one corpus with their oracle digests."""
    from freki_spark import html_oracle, oracle, spec

    shape, seed, lo, hi = task
    rows = []
    for i in range(lo, hi):
        profile, doc = _doc(shape, seed, i)
        html = any(s["kind"] == spec.KIND_HTML for s in doc["spans"])
        extract = html_oracle.extract_document if html else oracle.extract_document
        spans, error = extract(doc["doc_id"], doc["spans"])
        rows.append((doc["doc_id"], profile, doc["spans"], digest(spans, error)))
    return rows


def _tasks(shape: tuple[int, int, int, int], seed: int) -> list[tuple[tuple, int, int, int]]:
    n_xml, n_html, mega, _ = shape
    n = n_xml + n_html
    # one task per mega doc, first: they take longest
    return [(shape, seed, n + k, n + k + 1) for k in range(mega)] + [
        (shape, seed, lo, min(lo + _TASK_DOCS, n)) for lo in range(0, n, _TASK_DOCS)
    ]


def _write(rows: list[tuple], path: Path, n_files: int, stem: str = "part") -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    path.mkdir(parents=True, exist_ok=True)
    for f in range(min(n_files, len(rows))):
        part = rows[f::n_files]  # round robin: every file holds the whole mix
        table = pa.table(
            {"doc_id": [r[0] for r in part], "spans": [r[2] for r in part]}, schema=schema
        )
        pq.write_table(table, path / f"{stem}-{f:05d}.parquet")


def _load(root: Path, name: str, seed: int) -> Corpus:
    meta = json.loads((root / "oracle.json").read_text())
    return Corpus(
        name, seed, root / "docs", root / "warm", meta["digests"], meta["identity"], set(meta["salted_ids"])
    )


def ensure(name: str, seed: int, work: Path, procs: int) -> Corpus:
    """Build (or reuse) corpus ``name`` for ``seed`` under ``work``, at
    the sizes ``SIZES`` and ``MEGA_PAGES`` hold.  The cache key hashes
    this file and those sizes, so a generator change rebuilds."""
    shape = (*SIZES[name], MEGA_PAGES)
    version = hashlib.sha256(Path(__file__).read_bytes() + repr(shape).encode()).hexdigest()[:12]
    root = work / "corpus" / f"{name}-seed{seed}-{version}"
    if (root / "oracle.json").exists():
        return _load(root, name, seed)
    shutil.rmtree(root, ignore_errors=True)
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_build, _tasks(shape, seed), chunksize=1)
    rows = [r for part in parts for r in part]
    ordinary = sorted((r for r in rows if r[1] != "salted_mega"), key=lambda r: r[0])
    mega = sorted((r for r in rows if r[1] == "salted_mega"), key=lambda r: r[0])
    _write(ordinary, root / "docs", FILES)
    if mega:
        # one file per mega doc, listed after the ordinary files
        _write(mega, root / "docs", len(mega), stem="part-mega")
    _write(ordinary[:: max(1, len(ordinary) // WARM_DOCS)][:WARM_DOCS], root / "warm", 1)
    profiles = collections.Counter(r[1] for r in rows)
    identity = {
        "corpus": name,
        "seed": seed,
        "docs": len(rows),
        "bytes": sum(p.stat().st_size for p in (root / "docs").iterdir()),
        "text_bytes": sum(len(s["text"]) for r in rows for s in r[2]),
        "profiles": dict(sorted(profiles.items())),
        "expected_corrupt": profiles.get("corrupt", 0),
        "salted_docs": len(mega),
    }
    meta = {
        "identity": identity,
        "digests": {r[0]: r[3] for r in rows},
        "salted_ids": [r[0] for r in mega],
    }
    (root / "oracle.json").write_text(json.dumps(meta))
    return _load(root, name, seed)
