"""Resume / lineage tests (SURVEY.md §5.2 item 5): kill after a
partial run, resume, assert no duplicates and output identical to a
single-shot run.  Also the determinism test (§5.2 item 6 correctness
side): different parallelism must yield identical spans."""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from freki_spark import fixtures, spec
from freki_spark.checkpoint import (
    committed_batches,
    metrics,
    read_output,
    run_extraction,
)
from freki_spark.io import doc_bucket, docs_to_df
from freki_spark.pipeline import extract
from sql_plans import executions, node_names_run_by, plan_nodes, status_store


@pytest.fixture(scope="module")
def docs():
    return fixtures.random_docs(60, seed=11, prefix="ck")


class _Killed(Exception):
    """A kill, raised in place of a batch's write."""


def _killed_run(monkeypatch, spark, df, out, run_id, n_batches, k):
    """A run killed in its batch loop: the write of batch ``k`` raises,
    so batches ``0..k-1`` stay committed, as after a crash."""
    from freki_spark import checkpoint

    original = checkpoint.write_batch

    def write_until_killed(batch_df, out_dir, batch_id, salt_threshold):
        if batch_id >= k:
            raise _Killed(batch_id)
        return original(batch_df, out_dir, batch_id, salt_threshold)

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "write_batch", write_until_killed)
        with pytest.raises(_Killed):
            run_extraction(spark, df, str(out), run_id=run_id, n_batches=n_batches)


def _spans_map(df):
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in df.collect()
    }


def test_resume_no_duplicates_and_identical(spark, docs, tmp_path, monkeypatch):
    df = docs_to_df(spark, docs)
    one_shot = tmp_path / "oneshot"
    resumed = tmp_path / "resumed"

    s1 = run_extraction(spark, df, str(one_shot), run_id="r1", n_batches=6)
    assert s1["batches_run"] == 6

    # killed run: only 2 of 6 batches commit
    _killed_run(monkeypatch, spark, df, resumed, "r2a", 6, 2)
    assert committed_batches(spark, str(resumed))[0] == {0, 1}

    # resume: the rest commit, already-done batches are skipped
    s3 = run_extraction(spark, df, str(resumed), run_id="r2b", n_batches=6)
    assert s3["batches_run"] == 4
    assert committed_batches(spark, str(resumed)) == committed_batches(
        spark, str(one_shot)
    )

    a = _spans_map(read_output(spark, str(one_shot)))
    b = _spans_map(read_output(spark, str(resumed)))
    assert a == b
    # no duplicates
    out = read_output(spark, str(resumed))
    assert out.count() == out.select("doc_id").distinct().count()

    # third run is a no-op: it reads the lineage and nothing else, no
    # input scan and no cache of it
    s4 = {}
    ran = node_names_run_by(
        spark,
        lambda: s4.update(run_extraction(spark, df, str(resumed), run_id="r2c", n_batches=6)),
    )
    assert s4["batches_run"] == 0
    scans = {n for n in ran if "Scan" in n}
    assert scans and all(n.startswith("Scan parquet") for n in scans), ran
    assert "InMemoryTableScan" not in ran, ran


def test_lineage_metrics(spark, docs, tmp_path):
    df = docs_to_df(spark, docs)
    out = tmp_path / "m"
    run_extraction(spark, df, str(out), run_id="m1", n_batches=3)
    m = {r.run_id: r for r in metrics(spark, str(out)).collect()}
    assert m["m1"].docs + m["m1"].errors == len(docs)
    assert m["m1"].spans > 0
    assert m["m1"].errors >= 1  # random_docs(60) plants one corrupt doc
    assert m["m1"].docs_per_sec > 0


def test_determinism_across_parallelism(spark, docs):
    df = docs_to_df(spark, docs)
    base = _spans_map(
        extract(df.repartition(1), salt_threshold=20)
        .filter("error is null")
        .select("doc_id", "spans")
    )
    wide = _spans_map(
        extract(df.repartition(16), salt_threshold=20)
        .filter("error is null")
        .select("doc_id", "spans")
    )
    assert base == wide


def test_stream_extract_incremental(spark, docs, tmp_path):
    """Streaming extraction: new source files are processed on the next
    trigger; already-seen files are never reprocessed (source offsets in
    the streaming checkpoint), and the union equals batch extraction."""
    from freki_spark.streaming.jobs import stream_extract

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    first, second = docs[:40], docs[40:]

    def accounted(path: str) -> set:
        ids = {r.doc_id for r in spark.read.parquet(f"{path}/data").collect()}
        ids |= {r.doc_id for r in spark.read.parquet(f"{path}/quarantine").collect()}
        return ids

    docs_to_df(spark, first).repartition(4).write.mode("append").parquet(src)
    stream_extract(spark, src, out)
    assert accounted(out) == {d["doc_id"] for d in first}

    docs_to_df(spark, second).repartition(4).write.mode("append").parquet(src)
    stream_extract(spark, src, out)
    all_rows = spark.read.parquet(f"{out}/data")
    # exactly once: no doc extracted twice across the two triggers
    assert all_rows.count() == all_rows.select("doc_id").distinct().count()
    assert accounted(out) == {d["doc_id"] for d in docs}
    got2 = _spans_map(all_rows)

    # span-for-span identical to the one-shot batch pipeline
    batch = _spans_map(
        extract(docs_to_df(spark, docs)).filter("error IS NULL").select("doc_id", "spans")
    )
    assert got2 == batch


def test_resume_ignores_partial_uncommitted_batch(spark, docs, tmp_path, monkeypatch):
    """A killed run leaves partially-written parquet in an UNCOMMITTED
    batch dir.  Resume must not count those docs as done (they would be
    skipped while the overwrite destroys the partial data — data loss);
    it must re-run the whole batch and converge to the one-shot output."""
    df = docs_to_df(spark, docs)
    out = tmp_path / "partial"

    _killed_run(monkeypatch, spark, df, out, "p1", 6, 2)
    done, _ = committed_batches(spark, str(out))
    assert done == {0, 1}
    victim = min(set(range(6)) - done)

    # simulate the kill: half of the victim batch's docs already written
    # to its data dir, with NO lineage row
    batched = df.withColumn("batch_id", doc_bucket(6))
    partial = (
        extract(batched.filter(F.col("batch_id") == victim).select("doc_id", "spans"))
        .filter(F.col("error").isNull())
        .select("doc_id", "spans")
        .limit(5)
        .withColumn("batch_id", F.lit(victim))
    )
    partial.write.mode("overwrite").parquet(str(out / "data" / f"batch_id={victim}"))

    s2 = run_extraction(spark, df, str(out), run_id="p2", n_batches=6)
    assert s2["batches_run"] == 4

    one_shot = tmp_path / "oneshot2"
    run_extraction(spark, df, str(one_shot), run_id="q1", n_batches=6)
    assert _spans_map(read_output(spark, str(out))) == _spans_map(
        read_output(spark, str(one_shot))
    )


def test_resume_rejects_changed_n_batches(spark, docs, tmp_path, monkeypatch):
    df = docs_to_df(spark, docs)
    out = tmp_path / "nb"
    _killed_run(monkeypatch, spark, df, out, "n1", 4, 1)
    with pytest.raises(ValueError, match="n_batches"):
        run_extraction(spark, df, str(out), run_id="n2", n_batches=8)


@pytest.mark.parametrize("n_batches", [0, -1])
def test_run_rejects_fewer_than_one_batch(spark, docs, tmp_path, n_batches):
    """No batch list is no run: it is an error, not a finished run."""
    out = tmp_path / "none"
    with pytest.raises(ValueError, match="n_batches"):
        run_extraction(spark, docs_to_df(spark, docs), str(out), n_batches=n_batches)
    assert not out.exists()


def test_run_commits_every_batch_an_empty_one_too(spark, docs, tmp_path):
    """The batch list is ``range(n_batches)``: a bucket that holds no
    doc commits a lineage row with zero counts, so the run is finished
    and its re-run reads only the lineage."""
    df = docs_to_df(spark, docs).filter(doc_bucket(4) != 2)
    assert df.count() < len(docs)
    out = str(tmp_path / "gap")
    run_extraction(spark, df, out, run_id="g1", n_batches=4)
    assert committed_batches(spark, out)[0] == {0, 1, 2, 3}
    (empty,) = spark.read.parquet(f"{out}/lineage").filter("batch_id = 2").collect()
    assert (empty.n_docs, empty.n_spans, empty.n_errors) == (0, 0, 0)
    assert empty.doc_id_min is None and empty.doc_id_max is None
    assert metrics(spark, out).first().batches == 4

    s = {}
    ran = node_names_run_by(
        spark, lambda: s.update(run_extraction(spark, df, out, run_id="g2", n_batches=4))
    )
    assert s["batches_run"] == 0
    assert "InMemoryTableScan" not in ran, ran


def test_extraction_leaves_no_cached_dataset(spark, docs, tmp_path, monkeypatch):
    """Long runs leak no cached datasets: the batch and the streaming
    job both take the salted path here (threshold 1), and neither
    leaves anything in the session's cache manager, nor does a batch
    run whose write fails."""
    from freki_spark import checkpoint
    from freki_spark.streaming.jobs import stream_extract

    def cache_empty() -> bool:
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    df = docs_to_df(spark, docs)
    spark.catalog.clearCache()
    run_extraction(spark, df, str(tmp_path / "batch"), n_batches=2, salt_threshold=1)
    assert cache_empty()

    def failing_write(*args):
        raise RuntimeError("write failed")

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "write_batch", failing_write)
        with pytest.raises(RuntimeError, match="write failed"):
            run_extraction(spark, df, str(tmp_path / "failed"), n_batches=2)
    assert cache_empty()

    src = str(tmp_path / "in")
    df.repartition(2).write.parquet(src)
    stream_extract(spark, src, str(tmp_path / "stream"), salt_threshold=1)
    assert cache_empty()


def _map_in_arrow_rows(store, since: set) -> int:
    """Rows out of every MapInArrow node (the narrow kernel) over the
    SQL executions not in ``since``: each doc extracted once counts
    once."""
    total = 0
    for e, node in plan_nodes(store, since):
        if node.name() != "MapInArrow":
            continue
        values = store.executionMetrics(e)
        ms = node.metrics()
        for m in (ms.apply(j) for j in range(ms.size())):
            v = values.get(m.accumulatorId())
            if m.name() == "number of output rows" and v.isDefined():
                total += int(v.get().replace(",", ""))
    return total


def test_commit_extracts_each_doc_once(spark, tmp_path):
    """One batch commit runs the kernel once per doc: the data and the
    quarantine writes share one extraction."""
    docs = fixtures.random_docs(20, seed=3, prefix="once")
    docs.append(fixtures.make_doc("once-corrupt", 3, "corrupt"))
    df = docs_to_df(spark, docs)
    before = executions(status_store(spark))
    s = run_extraction(spark, df, str(tmp_path / "once"), n_batches=3)
    assert s["n_docs"] + s["n_errors"] == len(docs) and s["n_errors"] == 1
    assert _map_in_arrow_rows(status_store(spark), before) == len(docs)


def test_commit_without_mega_doc_plans_no_salted_path(spark, docs, tmp_path):
    """With no doc above the salting threshold, a run plans only the
    narrow kernel: no S7 stage runs, not even over empty input, and
    nothing shuffles."""
    assert max(len(d["spans"]) for d in docs) <= spec.SALT_SPAN_THRESHOLD
    df = docs_to_df(spark, docs)
    ran = node_names_run_by(
        spark, lambda: run_extraction(spark, df, str(tmp_path / "narrow"), n_batches=2)
    )
    assert "MapInArrow" in ran
    assert not ran & {"MapInPandas", "FlatMapGroupsInPandas"}, ran
    assert not any("Exchange" in n for n in ran), ran


_COUNTS = ("doc_id_min", "doc_id_max", "n_docs", "n_spans", "n_errors")


def _recomputed_lineage(spark, out: str, b: int) -> dict:
    """The lineage counts of batch ``b`` by column name, re-read from
    what its writes left on disk."""
    s = spark.read.parquet(f"{out}/data/batch_id={b}").agg(
        F.min("doc_id"),
        F.max("doc_id"),
        F.count("*"),
        F.coalesce(F.sum(F.size("spans")), F.lit(0)),
    ).first()
    n_errors = spark.read.parquet(f"{out}/quarantine/batch_id={b}").count()
    return dict(zip(_COUNTS, (*s, n_errors)))


@pytest.mark.parametrize(
    "profile, n_good, n_bad",
    [("clean", 6, 0), ("all_corrupt", 0, 3)],
)
def test_observed_lineage_equals_recompute(spark, tmp_path, profile, n_good, n_bad):
    """Lineage counts observed on the writes equal a re-read of the
    written dirs, also when one side of the split is empty (an empty
    good side gives null doc_id bounds and 0 spans)."""
    docs = fixtures.random_docs(n_good, seed=4, prefix=profile)
    docs += [fixtures.make_doc(f"{profile}-bad-{i}", 4, "corrupt") for i in range(n_bad)]
    out = str(tmp_path / profile)
    run_extraction(spark, docs_to_df(spark, docs), out, n_batches=1)
    (row,) = spark.read.parquet(f"{out}/lineage").collect()
    got = {k: row[k] for k in _COUNTS}
    assert got == _recomputed_lineage(spark, out, 0)
    assert (got["n_docs"], got["n_errors"]) == (n_good, n_bad)
    if not n_good:
        assert [got[k] for k in _COUNTS[:4]] == [None, None, 0, 0]
    # the rollup divides by n_docs: with none, its ratio is null, not an error
    m = metrics(spark, out).first()
    assert m.error_rate == n_bad / (n_good + n_bad)
    assert (m.spans_per_doc is None) == (not n_good)


def test_stream_micro_batch_observes_its_writes(spark, docs, tmp_path, monkeypatch):
    """Inside foreachBatch the observations resolve too: every
    micro-batch's returned counts equal a re-read of its dirs."""
    from freki_spark import checkpoint
    from freki_spark.streaming.jobs import stream_extract

    seen, original = {}, checkpoint.write_batch

    def recording(df, out_dir, batch_id, salt_threshold):
        seen[batch_id] = original(df, out_dir, batch_id, salt_threshold)
        return seen[batch_id]

    monkeypatch.setattr(checkpoint, "write_batch", recording)
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    docs_to_df(spark, docs).repartition(8).write.parquet(src)  # two micro-batches
    stream_extract(spark, src, out)
    assert len(seen) == 2 and sum(v["n_docs"] + v["n_errors"] for v in seen.values()) == len(docs)
    for b, got in seen.items():
        assert got == _recomputed_lineage(spark, out, b)


def test_committed_at_is_the_utc_instant_on_a_non_utc_host(spark, tmp_path, monkeypatch):
    """``committed_at`` records the commit's instant whatever the driver
    host's local zone is."""
    docs = fixtures.random_docs(3, seed=6, prefix="tz")
    out = str(tmp_path / "tz")
    monkeypatch.setenv("TZ", "IST-5:30")  # POSIX form of UTC+05:30
    time.tzset()
    try:
        run_extraction(spark, docs_to_df(spark, docs), out, n_batches=1)
    finally:
        monkeypatch.undo()
        time.tzset()
    (at,) = spark.read.parquet(f"{out}/lineage").select(F.col("committed_at").cast("long")).first()
    assert abs(at - datetime.now(timezone.utc).timestamp()) < 60


# ---------------------------------------------------------------------------
# Value pin for the rows-only checkpoint_lineage driver entry (round-3
# verdict item 5): the lineage table's xxhash64 batch ids have no SQL
# oracle, so pin exact batch membership and per-batch counts against a
# PURE-PYTHON xxhash64 recompute (validated against Spark's xxhash64 on
# empty/short/31B/32B/long vectors) plus the independent span oracle.
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_XP1, _XP2, _XP3, _XP4, _XP5 = (
    11400714785074694791,
    14029467366897019727,
    1609587929392839161,
    9650029242287828579,
    2870177450012600261,
)


def _rotl64(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def _xround(acc, inp):
    acc = (acc + inp * _XP2) & _M64
    return (_rotl64(acc, 31) * _XP1) & _M64


def _xmerge(acc, val):
    acc ^= _xround(0, val)
    return (acc * _XP1 + _XP4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 (spec-faithful), the hash behind Spark's xxhash64(seed=42)."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            v1 = _xround(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xround(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xround(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xround(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = _xmerge(h, v)
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xround(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XP1) & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_rotl64(h, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


def _spark_xxhash64_signed(s: str) -> int:
    h = xxh64(s.encode("utf-8"), 42)
    return h - (1 << 64) if h >= (1 << 63) else h


def test_xxh64_recompute_matches_spark(spark):
    """The python XXH64 must equal Spark's xxhash64 across the length
    regimes (empty, <4, <8, 4-byte tail, 8-byte lanes, 31/32 stripe
    boundary, long) — otherwise the lineage pin below proves nothing."""
    vals = ["", "a", "abc", "hell", "hello123", "x" * 31, "y" * 32, "z" * 100,
            "lin-0000007"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for v in vals:
        assert _spark_xxhash64_signed(v) == got[v], v


def test_checkpoint_lineage_values_match_python_recompute(spark, tmp_path):
    """Exact batch membership + per-batch (n_docs, n_spans, n_errors)
    against the python xxhash64 batch assignment and the independent
    span ORACLE — the value check the rows-only driver entry lacks."""
    from collections import defaultdict

    from freki_spark import oracle
    from freki_spark.queries import q_checkpoint_lineage

    docs = fixtures.random_docs(24, seed=5, prefix="lin")
    lin = {
        r.batch_id: (r.n_docs, r.n_spans, r.n_errors)
        for r in q_checkpoint_lineage(spark, None).collect()
    }
    want = defaultdict(lambda: [0, 0, 0])
    for d in docs:
        b = _spark_xxhash64_signed(d["doc_id"]) % 4  # python % == pmod
        spans, err = oracle.extract_document(d["doc_id"], d["spans"])
        if err is None:
            want[b][0] += 1
            want[b][1] += len(spans)
        else:
            want[b][2] += 1
    assert lin == {b: tuple(v) for b, v in want.items()}
    assert sum(v[0] for v in lin.values()) == 24  # nothing lost
