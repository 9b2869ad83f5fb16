"""Storage seam (P1/P11): Iceberg in production, parquet locally.

No Iceberg runtime jar ships in this sandbox (SURVEY.md §7), so the
Iceberg branch is config-only: at prod the same calls go through
``spark.read.table`` / ``DataFrameWriterV2.writeTo(...).append()`` on
a table partitioned by ``bucket(N, doc_id)`` — the partition transform
keeps the per-batch filter of a checkpointed run (one bucket per batch
id; resume filters committed ids out, never anti-joins) prunable.
Locally everything is parquet with an explicit ``pmod(xxhash64(doc_id),
N)`` bucket column standing in for the Iceberg transform.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import DOC_SCHEMA

N_BUCKETS = 64  # design point: 4096 at 10^12 docs; 64 keeps local files sane


def docs_to_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    """Materialize python span-doc dicts as a (doc_id, spans) DataFrame."""
    rows = [(d["doc_id"], d["spans"]) for d in docs]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def doc_bucket(n_buckets: int) -> Column:
    """A doc's bucket, ``pmod(xxhash64(doc_id), n_buckets)``: the local
    stand-in for Iceberg's ``bucket(N, doc_id)``, and the batch id of
    ``checkpoint.run_extraction`` when n_batches == N."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", doc_bucket(n_buckets))


def read_docs(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.table(path).select("doc_id", "spans")
    return spark.read.parquet(path).select("doc_id", "spans")


def write_docs(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "append"
) -> None:
    if fmt == "iceberg":
        w = df.writeTo(path)
        if mode == "overwrite":
            # replace only partitions present in df (idempotent re-run
            # of a batch); a full-table replace would be .replace()
            w.overwritePartitions()
        else:
            w.append()
        return
    cols = df.columns
    out = with_bucket(df) if "bucket" not in cols else df
    out.write.mode(mode).partitionBy("bucket").parquet(path)
