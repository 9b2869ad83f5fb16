"""FrekiSpec v1 §S6 — the freki output-format grammar.

These scalar helpers ARE the serialization contract (the exact byte
format of block-header and line spans).  They are shared between the
single-node oracle and the Spark kernel on purpose: the *grammar* is
spec, the *layout computation* is implementation (coded twice, see
SURVEY.md §5.2).

Reference parity target: freki/serialize.py (FrekiBlock.__str__,
FrekiLine) in pvk444/freki — unavailable at build time (empty mount,
SURVEY.md §0).  RECONCILE the exact header/line grammar when the
reference tree appears.
"""

from __future__ import annotations

import re

from .spec import FONT_KEY_SEP, FONT_SIZE_NDIGITS

# the block-header grammar renders labels as ``label=<\S+>`` — the
# reader's tail regex (reader.py _RE_BLOCK_TAIL) and the DuckDB
# freki_read mirror both parse with ``label=(\S+)``, so a label with
# whitespace would render a header NO consumer can parse (every block
# field silently NULL).  Reject at render time instead.
# fullmatch, not match-with-$: `$` matches before a trailing newline,
# which would let "label\n" through and split the header line
_LABEL_RE = re.compile(r"\S+")


def page_number(attr: str | None) -> int | None:
    """A page element's number (TETML ``number``, PDFMiner ``id``), or
    None when it has none.  Read by the kernel's page rules, which its
    two parser paths share; ``kernel._parse`` numbers a page without
    one by its position in the doc, which a parser handed one S7 page
    piece cannot know."""
    return None if attr is None else int(attr)


def mode_first(keys: list[str]) -> int:
    """Index of the first element whose value is the mode (ties -> the
    earliest).  Part of the shared contract (S1 majority-font vote):
    the kernel's two parser paths must tie-break identically, so the
    single implementation lives here.  Pure python on purpose — these
    lists are 1-10 glyphs long and np.unique costs ~50µs per call."""
    if len(keys) == 1 or keys.count(keys[0]) == len(keys):
        return 0  # all-same fast case (one C pass) — by far the common one
    counts: dict[str, int] = {}
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    best = max(counts.values())
    for i, k in enumerate(keys):
        if counts[k] == best:
            return i
    raise AssertionError("unreachable")


def font_key(font: str, size: float) -> str:
    """Composite key for a (font-face, size) pair; size pre-rounded.
    The render width is derived from FONT_SIZE_NDIGITS so reconciling
    the spec constant cannot silently collapse distinct keys."""
    return (
        f"{font}{FONT_KEY_SEP}"
        f"{round(float(size), FONT_SIZE_NDIGITS):.{FONT_SIZE_NDIGITS}f}"
    )


def font_label(font_id: int, key: str) -> str:
    """Render ``F<id>-<size:.1f>`` from a global font id and its key."""
    size_part = key.split(FONT_KEY_SEP, 1)[1]
    return f"F{font_id}-{size_part}"


def render_block_header(
    doc_id: str,
    page: int,
    block_k: int,
    llx: float,
    lly: float,
    urx: float,
    ury: float,
    start_line: int,
    end_line: int,
    label: str = "",
) -> str:
    """``label`` is the optional block classification (upstream it comes
    from ODIN's igtdetect stage, a separate classifier [U]); rendered as
    ``label=<l>`` between bbox and the line range ONLY when non-empty,
    so unlabeled output — everything the extraction pipeline itself
    emits — is byte-identical to the label-free grammar.  Labels must
    match ``\\S+`` (whitespace would break every parser of the header
    grammar); anything else raises rather than emitting silent data
    loss."""
    bbox = render_bbox(llx, lly, urx, ury)
    if label:
        if not _LABEL_RE.fullmatch(label):
            raise ValueError(
                f"block label {label!r} is not representable in the "
                "block-header grammar (must match \\S+): the reader "
                "would fail to parse the whole header"
            )
        bbox += f" label={label}"
    return render_block_header_from_parts(doc_id, page, block_k, bbox, start_line, end_line)


def render_bbox(llx: float, lly: float, urx: float, ury: float) -> str:
    """Just the bbox part of a block header, for both renderers: the
    kernel renders it at layout time, before the line range is known."""
    return f"{llx:.1f},{lly:.1f},{urx:.1f},{ury:.1f}"


def render_block_header_from_parts(
    doc_id: str, page: int, block_k: int, bbox: str, start_line: int, end_line: int
) -> str:
    return (
        f"doc_id={doc_id} page={page} block_id={page}-{block_k} "
        f"bbox={bbox} {start_line} {end_line}"
    )


def render_line(line_no: int, font_labels: list[str], rendered_text: str) -> str:
    return f"line={line_no} fonts={','.join(font_labels)}:{rendered_text}"
