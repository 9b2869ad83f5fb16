"""FrekiSpec v1 — all layout constants in one module.

This is the single reconciliation point against the reference
(pvk444/freki).  The reference mount at /root/reference was EMPTY at
survey and build time (SURVEY.md §0), so every constant below is a
reconstructed engineering default consistent with the LREC-2018
description of freki (Goodman, Georgi & Xia, "PDF-to-Text Reanalysis
for Linguistic Data Mining") and the north-star spec in BASELINE.json.
Each is marked RECONCILE: re-derive from the real reference tree
(freki/analyzers/base.py, freki/serialize.py) when it appears.

Both implementations of the spec import ONLY this module:

- ``freki_spark.oracle``  — readable single-node pure-Python/numpy
  oracle (the golden-answer generator);
- ``freki_spark.kernel``  — the vectorized numpy kernel that runs
  inside the pipeline's Python UDFs (the narrow ``mapInArrow`` path
  and the salted path's pandas stages).

They are deliberately coded separately (two-implementation consistency
check, SURVEY.md §5.2).
"""

# ---- S2: line clustering -------------------------------------------------
# A token joins the current line when the vertical interval overlap
#   min(ury_tok, ury_line) - max(lly_tok, lly_line)
# exceeds LINE_OVERLAP_RATIO * min(height_tok, height_line).
# RECONCILE: ratio and whether the reference clusters on baselines.
LINE_OVERLAP_RATIO = 0.5

# ---- S3: inter-token spacing ---------------------------------------------
# Spaces between consecutive tokens = round(gap / char_width), with a
# minimum of one space once gap > SPACE_MIN_GAP_RATIO * char_width.
# round() is IEEE-754 banker's rounding (numpy & python agree).
# RECONCILE: both constants.
SPACE_MIN_GAP_RATIO = 0.35

# ---- S4: column detection -------------------------------------------------
# A qualifying whitespace gap is >= COLUMN_MIN_CHANNEL_PT wide with its
# center inside the central COLUMN_CENTER_FRAC of the page width.
#
# v1 rule (tried FIRST, unchanged): one split at the median of all
# qualifying gap centers; accept iff >= COLUMN_MIN_LINE_FRAC of the
# page's provisional lines are compatible (entirely on one side, or
# holding a qualifying gap over the split) and both sides are
# non-empty.
#
# v2 multi-split fallback (ONLY when the v1 attempt fails, so v1-
# accepted pages are bit-for-bit unchanged): qualifying gaps are
# grouped into channels by x-interval overlap (sort by gap start; a
# gap joins the open channel while its start precedes the channel's
# running max end); each channel with >= COLUMN_CHANNEL_MIN_GAPS
# member gaps proposes a split at the median of its member centers.
# Requires >= 2 proposed splits (>= 3 columns — the 2-column case is
# exactly v1).  All proposed splits are accepted JOINTLY iff
# (a) >= COLUMN_MIN_LINE_FRAC of lines are compatible with every split
# (entirely within one column, or holding a qualifying-width gap over
# each split they span), (b) every resulting column is non-empty, and
# (c) at most half of the bridging lines (compatible lines spanning
# >= 1 split) carry a qualifying-WIDTH gap that contains NO proposed
# split — such uncovered wide gaps are tab-grid evidence (a tab grid's
# gap columns extend beyond the proposed channel set, e.g. outside the
# central band), whereas a real multi-column page's wide gaps are
# exactly its channels.  Otherwise single column.
# RECONCILE: all four constants, the channel-clustering rule, the
# tab-grid guard, and the full-width-line rule.
COLUMN_MIN_CHANNEL_PT = 12.0
COLUMN_CENTER_FRAC = 0.40          # channel center in [0.3W, 0.7W]
COLUMN_MIN_LINE_FRAC = 0.75
COLUMN_CHANNEL_MIN_GAPS = 2        # min member gaps for a v2 channel

# ---- S5: block segmentation ----------------------------------------------
# New block when inter-line gap > BLOCK_GAP_FACTOR * median positive
# gap on the page, or when the line's dominant (font, size) differs
# from the block's dominant font.  Sizes rounded to FONT_SIZE_NDIGITS.
# RECONCILE: beta and the font-change rule.
BLOCK_GAP_FACTOR = 1.8
FONT_SIZE_NDIGITS = 1

# ---- S7: mega-document salting --------------------------------------------
# Documents with more than SALT_SPAN_THRESHOLD input spans take the
# salted (page-parallel) path; pages are sharded into at most
# SALT_MAX_GROUPS groups.
SALT_SPAN_THRESHOLD = 10_000
SALT_MAX_GROUPS = 32

# ---- span kinds ------------------------------------------------------------
KIND_TETML = "tetml"
KIND_PDFMINER = "pdfminer-xml"
KIND_HTML = "html"
KIND_MEDIA = "media"
KIND_BLOCK = "block"
KIND_LINE = "line"
XML_KINDS = (KIND_TETML, KIND_PDFMINER)
# All input-chunk kinds (raw document content split across spans).
# kind='html' routes to the HtmlSpec main-content pipeline
# (freki_spark.html_spec); the XML kinds route to FrekiSpec S1-S7.
CHUNK_KINDS = (*XML_KINDS, KIND_HTML)

# Separator used inside composite font keys ("<name>\x1f<size:.1f>").
FONT_KEY_SEP = "\x1f"

# --------------------------------------------------------------------------
# Page-element lexical markers (S6 media anchoring + S7 page splitting).
# Normative and shared by BOTH implementations (kernel and oracle must
# anchor media to identical page positions, so this is spec, not
# implementation).  The lookahead — not \b — keeps lookalike tags
# (<Pagex>, <Page:foo>, <Page-y>) from counting as page starts, in
# agreement with the parsers' namespace-tolerant element matching.
# --------------------------------------------------------------------------
import re as _re

PAGE_START_RE = {
    KIND_TETML: _re.compile(r"<(?:[\w.-]+:)?Page(?=[\s/>])"),
    KIND_PDFMINER: _re.compile(r"<(?:[\w.-]+:)?page(?=[\s/>])"),
}
PAGE_END_RE = {
    KIND_TETML: _re.compile(r"</(?:[\w.-]+:)?Page\s*>"),
    KIND_PDFMINER: _re.compile(r"</(?:[\w.-]+:)?page\s*>"),
}
