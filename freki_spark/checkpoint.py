"""Per-batch checkpoint / lineage / resume (P12, north rule).

The checkpoint unit is a *batch*: a deterministic hash-bucket of
doc_ids (``pmod(xxhash64(doc_id), n_batches)``) — locally a parquet
partition directory, in production an Iceberg partition whose append
commit is the atomic boundary.  Each batch filters the cached input
and is extracted once by ``write_batch``, which writes ``data/`` and
``quarantine/`` from the cached result and observes the lineage counts
on those writes; the lineage append that follows is the commit point.
A crash before it leaves an uncommitted (overwritable) batch.

The batch list is ``range(n_batches)``: every id commits one lineage
row, an empty bucket's with zero counts.  Resume skips committed ids
(no data read).  Uncommitted batch dirs may hold partial files from a
killed run; they are never trusted, only overwritten by the re-run.

``n_batches`` is recorded in lineage and pinned: the batch dirs are
keyed by ``pmod(hash, n_batches)``, so resuming with a different value
would overwrite committed dirs with differently-bucketed data — it is
an explicit error instead.

Lineage schema follows FIXTURES.md §5.
"""

from __future__ import annotations

import datetime as _dt
import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import spec
from .io import doc_bucket
from .pipeline import extract, split_quarantine

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("batch_id", T.IntegerType()),
        T.StructField("n_batches", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_id_min", T.StringType()),
        T.StructField("doc_id_max", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_spans", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)
_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def committed_batches(spark: SparkSession, out_dir: str) -> tuple[set[int], set[int]]:
    """(committed batch ids, distinct n_batches values) of the lineage
    table, from one read of it; both empty when there is none."""
    if not _exists(spark, f"{out_dir}/lineage"):
        return set(), set()
    lin = spark.read.parquet(f"{out_dir}/lineage")
    rows = lin.select("batch_id", "n_batches", "status").distinct().collect()
    return {r.batch_id for r in rows if r.status == "committed"}, {r.n_batches for r in rows}


def write_batch(df: DataFrame, out_dir: str, batch_id: int, salt_threshold: int) -> dict:
    """Extract one batch of (doc_id, spans) once and overwrite its
    ``data/batch_id=<b>`` and ``quarantine/batch_id=<b>`` dirs from the
    cached result (Spark's write-to-several-locations pattern).  Returns
    the batch's lineage counts by column name (``doc_id_min``,
    ``doc_id_max``, ``n_docs``, ``n_spans``, ``n_errors``), observed on
    the two writes themselves.

    Overwrite keyed by batch id makes a replayed batch idempotent, so
    the batch job (which commits in lineage afterwards) and the
    streaming job (whose foreachBatch is at-least-once) share it."""
    extracted = extract(df, salt_threshold=salt_threshold).persist()
    good_obs, bad_obs = Observation(), Observation()
    good, bad = split_quarantine(extracted)
    good = good.observe(
        good_obs,
        F.min("doc_id").alias("doc_id_min"),
        F.max("doc_id").alias("doc_id_max"),
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("n_spans"),
    )
    bad = bad.observe(bad_obs, F.count(F.lit(1)).alias("n_errors"))
    try:
        for part, sub in ((good, "data"), (bad, "quarantine")):
            part.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").parquet(
                f"{out_dir}/{sub}/batch_id={batch_id}"
            )
        return {**good_obs.get, **bad_obs.get}
    finally:
        extracted.unpersist()


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    n_batches: int = 8,
    salt_threshold: int = spec.SALT_SPAN_THRESHOLD,
) -> dict:
    """Run (or resume) checkpointed extraction of the batch ids in
    ``range(n_batches)`` not yet committed.  Returns this call's summary:
    ``run_id``, ``batches_run``, ``n_docs``, ``n_spans``, ``n_errors``."""
    if n_batches < 1:
        raise ValueError(f"n_batches must be at least 1 (got {n_batches})")
    done, prior_nb = committed_batches(spark, out_dir)
    if prior_nb and prior_nb != {n_batches}:
        # the batch dirs are keyed by pmod(hash, n_batches): a different
        # n_batches remaps doc→batch and the re-run would overwrite
        # committed dirs with differently-bucketed data — refuse loudly
        raise ValueError(
            f"output {out_dir} was written with n_batches={sorted(prior_nb)}; "
            f"resume with the same value (got {n_batches})"
        )
    summary = {"run_id": run_id, "batches_run": 0, "n_docs": 0, "n_spans": 0, "n_errors": 0}
    batched = input_df.withColumn("batch_id", doc_bucket(n_batches))
    if done:
        # the batch filter IS the exactly-once guard: batch_id is a
        # pure function of doc_id (pmod(xxhash64, n)) and n_batches is
        # pinned, so every doc in a committed batch is excluded here —
        # a doc-level anti-join against committed doc_ids can never
        # remove anything more and would re-scan all committed output
        # on every resume (prohibitive at 10^12 docs).  Corollary: a
        # run assumes a static input snapshot; rows ADDED to the input
        # after a batch committed would land in already-done batches
        # and be skipped — ingest new docs with a new run_id/output
        # (or Iceberg snapshot), never by mutating a half-done run's
        # input.
        batched = batched.filter(~F.col("batch_id").isin(sorted(done)))
    batched = batched.persist()
    try:
        todo = [b for b in range(n_batches) if b not in done]
        for b in todo:
            t0 = time.monotonic()
            batch_df = batched.filter(F.col("batch_id") == b).select("doc_id", "spans")
            # data write first; lineage append second (= the commit point)
            counts = write_batch(batch_df, out_dir, b, salt_threshold)
            row = {
                "run_id": run_id,
                "batch_id": b,
                "n_batches": n_batches,
                "partition_id": b,
                **counts,
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "status": "committed",
                "committed_at": _dt.datetime.now(_dt.timezone.utc),
            }
            # an Arrow table plans a LocalRelation (a Python list plans an
            # RDD scan) and stores the aware timestamp as its UTC instant
            lineage = pa.Table.from_pylist([row], schema=_LINEAGE_ARROW)
            spark.createDataFrame(lineage, LINEAGE_SCHEMA).write.mode("append").parquet(
                f"{out_dir}/lineage"
            )
            summary["batches_run"] += 1
            for k in ("n_docs", "n_spans", "n_errors"):
                summary[k] += counts[k]
    finally:
        # released on every way out: a failed batch must not leave the
        # whole input cached in a long-lived session
        batched.unpersist()
    return summary


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/data").select("doc_id", "spans")


def metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-run rollup over the lineage table (docs/sec, spans/doc,
    parse-failure rate) — the P12 metrics job.  A ratio over zero is
    null: a run that quarantined every doc has no spans per doc."""
    lin = spark.read.parquet(f"{out_dir}/lineage")
    return lin.groupBy("run_id").agg(
        F.count("*").alias("batches"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_spans").alias("spans"),
        F.sum("n_errors").alias("errors"),
        F.sum("wall_ms").alias("wall_ms"),
        F.round(F.try_divide(F.sum("n_docs"), F.sum("wall_ms") / 1000.0), 2).alias(
            "docs_per_sec"
        ),
        F.round(F.try_divide(F.sum("n_spans"), F.sum("n_docs")), 2).alias("spans_per_doc"),
        F.round(
            F.try_divide(F.sum("n_errors"), F.sum("n_docs") + F.sum("n_errors")), 4
        ).alias("error_rate"),
    )
