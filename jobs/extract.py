"""Production entry point (north star: ships via
``spark-submit --py-files freki_spark.zip jobs/extract.py ...``).

    spark-submit --py-files freki_spark.zip jobs/extract.py \
        --input  <parquet path> \
        --output <output dir> \
        --run-id r42 --n-batches 256

On a cluster the session comes from spark-submit's conf (master,
executors, memory); the script only sets job-level knobs.  Locally it
falls back to local[*] so the job is runnable as-is.

Resumability: re-running the same command continues from the last
committed batch (see freki_spark.checkpoint).
"""

from __future__ import annotations

import argparse

from freki_spark import spec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--n-batches", type=int, default=256)
    ap.add_argument("--salt-threshold", type=int, default=spec.SALT_SPAN_THRESHOLD)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from freki_spark.checkpoint import metrics, run_extraction
    from freki_spark.io import read_docs

    builder = (
        SparkSession.builder.appName(f"freki-extract-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # python-bound map work wants finer input splits than the
        # 128m default: ~16m keeps every core busy on doc-sized rows
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # document rows are huge (a mega-doc's spans column is many MB):
        # the default 4096-row vectorized reader batch tries to reserve
        # GBs of contiguous heap and OOMs; 128 doc-rows per columnar
        # batch is plenty and bounds reader memory at every scale
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()

    input_df = read_docs(spark, args.input)
    summary = run_extraction(
        spark,
        input_df,
        args.output,
        run_id=args.run_id,
        n_batches=args.n_batches,
        salt_threshold=args.salt_threshold,
    )
    print(summary)
    metrics(spark, args.output).show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
