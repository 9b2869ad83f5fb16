"""Storage-seam tests (freki_spark/io.py — the Iceberg-in-prod /
parquet-locally boundary, SURVEY.md §7).

No Iceberg jar ships in this sandbox, so the iceberg branch stays
config-only; these tests pin the PARQUET fallback's scale-relevant
contracts — the ones the production table relies on for the per-batch
filter of a checkpointed run (resume filters committed batch ids out,
never anti-joins):

- bucket assignment is deterministic, bounded, and well-spread (the
  stand-in for Iceberg's ``bucket(N, doc_id)`` partition transform);
- a write/read round-trip through the bucket-partitioned layout is
  lossless;
- a bucket-filtered read PRUNES partitions at the scan (the property
  that makes per-bucket resume cheap at 4096 buckets / 10^12 docs);
- append mode accumulates, and a caller-provided bucket column is
  respected (idempotent re-bucketing would corrupt co-location).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from freki_spark.io import (  # noqa: E402
    N_BUCKETS,
    docs_to_df,
    read_docs,
    with_bucket,
    write_docs,
)


def _docs(n):
    return [
        {
            "doc_id": f"doc-{i:05d}",
            "spans": [("text", f"span {i}", None, 0)],
        }
        for i in range(n)
    ]


def test_bucket_assignment_deterministic_bounded_spread(spark):
    df = with_bucket(docs_to_df(spark, _docs(512)))
    a = {r.doc_id: r.bucket for r in df.collect()}
    b = {r.doc_id: r.bucket for r in df.collect()}  # re-evaluate plan
    assert a == b  # deterministic across evaluations
    assert all(0 <= v < N_BUCKETS for v in a.values())
    # xxhash64 spread: with 512 ids over 64 buckets (E=8/bucket), no
    # bucket should be empty-heavy or hot beyond 4x expectation
    from collections import Counter

    c = Counter(a.values())
    assert len(c) >= N_BUCKETS // 2  # at least half the buckets hit
    assert max(c.values()) <= 32  # no 4x-expectation hot bucket


def test_write_read_roundtrip_is_lossless(spark, tmp_path):
    path = str(tmp_path / "docs_rt")
    src = docs_to_df(spark, _docs(100))
    write_docs(src, path)
    # physical layout is bucket-partitioned (the pruning unit)
    subdirs = [d for d in os.listdir(path) if d.startswith("bucket=")]
    assert len(subdirs) >= 2
    back = read_docs(spark, path)
    assert sorted(back.columns) == ["doc_id", "spans"]
    got = {r.doc_id: r.spans for r in back.collect()}
    exp = {r.doc_id: r.spans for r in src.collect()}
    assert got == exp


def test_bucket_filter_prunes_partitions_at_scan(spark, tmp_path):
    path = str(tmp_path / "docs_prune")
    write_docs(docs_to_df(spark, _docs(200)), path)
    import contextlib
    import io as _io

    one = spark.read.parquet(path).filter("bucket = 3")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain("formatted")
    p = buf.getvalue()
    # the bucket predicate must reach the scan as a PARTITION filter
    # (directory pruning), not a data filter over all files — match
    # INSIDE the PartitionFilters bracket, not a loose window after it
    # (the pass-20 vacuous-audit-regex rule)
    assert "PartitionFilters" in p
    bracket = p.split("PartitionFilters", 1)[1]
    bracket = bracket[: bracket.index("]")]
    assert "bucket" in bracket, bracket
    # and the pruned read returns exactly the bucket-3 docs
    all_rows = {r.doc_id: r.bucket for r in spark.read.parquet(path).collect()}
    want = {d for d, bk in all_rows.items() if bk == 3}
    assert {r.doc_id for r in one.collect()} == want and want


def test_append_accumulates_and_given_bucket_respected(spark, tmp_path):
    path = str(tmp_path / "docs_append")
    first = docs_to_df(spark, _docs(40))
    write_docs(first, path)
    # second batch arrives PRE-bucketed (e.g. a resume re-run that
    # already computed buckets) — write_docs must not re-bucket it
    second = with_bucket(docs_to_df(spark, _docs(60))).filter(
        "doc_id >= 'doc-00040'"
    )
    write_docs(second, path, mode="append")
    back = spark.read.parquet(path)
    assert back.count() == 60
    # every doc's stored bucket equals the canonical assignment —
    # i.e. the pre-bucketed batch landed in the SAME layout
    canon = {
        r.doc_id: r.bucket
        for r in with_bucket(docs_to_df(spark, _docs(60))).collect()
    }
    for r in back.collect():
        assert r.bucket == canon[r.doc_id], r.doc_id
