"""Headline benchmark (driver contract): runs the extraction pipeline
plus the heavy relational/dedup/ANN queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], and prints
ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "docs_per_sec": ...}

The extraction corpus is a deterministic synthetic span-doc table
(seeded fixture generator, mixed sizes incl. salted mega-docs and
corrupt docs), generated DISTRIBUTED via mapInPandas once into
BENCH/data/ and reused — the same corpus the N-vs-4N scaling run uses
(BENCH/run_scaling.py, BASELINE.md protocol).

Timing forces full materialization through the noop sink (count()
alone lets Catalyst prune the expensive projections).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_DOCS = int(os.environ.get("FREKI_BENCH_DOCS", "8000"))
REPO = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(REPO, "BENCH", "data", f"bench_docs_{BENCH_DOCS}")

HEADLINE_QUERIES = [
    "q_hash_agg",
    "q_smj_large",
    "q_window_running",
    "q_explode_tokens",
    "q_range_join",
    "q_broadcast_join",
    "dedup_minhash_lsh",
    "ann_lsh_bucketed",
    "doc_fingerprint",
    "html_extract_sf",
]


def driver_memory_mb() -> int:
    """Half of the host's physical RAM, capped at 48g: the driver JVM
    is the whole local[N] cluster, but it shares the host with the
    Python workers it forks."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(ram_mb // 2, 48 * 1024)


def build_session(cpus: int, app: str = "freki-bench"):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # python-bound map stages need several task waves per core for
        # JVM-feed/python-compute overlap: one task per core serializes
        # the pipeline (measured 0.4 -> 0.8+ scaling efficiency)
        .config("spark.sql.files.minPartitionNum", str(4 * cpus))
        # same cap as jobs/extract.py: multi-MB mega-doc rows make the
        # 4096-row default vectorized-reader batch reserve GBs and GC-
        # thrash at high task concurrency (measured 2x on the 32k corpus
        # at local[32]: JVM climbs to ~10 cores of GC while the python
        # workers starve)
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .getOrCreate()
    )


def ensure_corpus(spark, n_docs: int = BENCH_DOCS, path: str = CORPUS) -> str:
    """Deterministic span-doc corpus, generated distributed (each task
    regenerates its doc_id range via the seeded pure generator)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    import pandas as pd

    from freki_spark.fixtures import make_doc
    from freki_spark.pipeline import DOC_SCHEMA

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 97 == 13:
                    profile = "corrupt"
                elif i % 211 == 7:
                    profile = "mega"
                else:
                    profile = "random"
                d = make_doc(f"bench-{i:07d}", 42, profile)
                rows.append((d["doc_id"], d["spans"]))
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    ids = spark.range(n_docs).repartition(64)
    ids.mapInPandas(gen, DOC_SCHEMA).write.mode("overwrite").parquet(path)
    return path


HTML_BENCH_DOCS = int(os.environ.get("FREKI_BENCH_HTML_DOCS", "24000"))
HTML_CORPUS = os.path.join(REPO, "BENCH", "data", f"bench_html_{HTML_BENCH_DOCS}")


def ensure_html_corpus(
    spark, n_docs: int = HTML_BENCH_DOCS, path: str = HTML_CORPUS
) -> str:
    """Deterministic HTML span-doc corpus for the boilerplate-strip half
    of the pipeline: mostly clean article pages (fast-scan eligible),
    with mega pages and tag-soup pages mixed in at fixed residues so the
    HTMLParser fallback path is exercised too."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    import pandas as pd

    from freki_spark.fixtures import make_html_doc
    from freki_spark.pipeline import DOC_SCHEMA

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 13 == 5:
                    profile = "mega_html"
                elif i % 29 == 11:
                    profile = "messy"
                elif i % 31 == 3:
                    profile = "linkfarm"
                else:
                    profile = "random_html"
                d = make_html_doc(f"bench-h-{i:07d}", 42, profile)
                rows.append((d["doc_id"], d["spans"]))
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    ids = spark.range(n_docs).repartition(64)
    ids.mapInPandas(gen, DOC_SCHEMA).write.mode("overwrite").parquet(path)
    return path


def time_extraction(
    spark, path: str, salt_threshold: int = 40, runs: int = 3
) -> tuple[float, int]:
    """Best wall seconds + doc count for the full pipeline over the
    corpus.  This host shows intermittent co-tenant noise waves that
    inflate individual walls up to ~10x (documented with raw data in
    BENCH/BASELINE.md); the MIN of `runs` is the least-interfered
    observation and the capability estimate used throughout BENCH.
    salt_threshold=40 routes the generated mega-docs (48 chunks) down
    the salted path, like SALT_SPAN_THRESHOLD would at real scale."""
    from freki_spark.pipeline import extract

    df = spark.read.parquet(path)
    n = df.count()
    walls = []
    for _ in range(runs):
        t0 = time.monotonic()
        extract(df, salt_threshold=salt_threshold).write.format("noop").mode(
            "overwrite"
        ).save()
        walls.append(time.monotonic() - t0)
    return min(walls), n


def _burn_loop(_arg) -> float:
    t0 = time.monotonic()
    x = 0
    for i in range(30_000_000):
        x += i
    return time.monotonic() - t0


def _burn_control(procs: int = 32) -> float:
    """Median wall of `procs` concurrent 30M-iteration python loops —
    the host-quietness probe (CLAUDE.md 'Host behavior': this sandbox
    has minutes-long ~2x co-tenant noise waves; ~1.2-2.6 s median =
    quiet, higher = a wave is in progress).  Run before and after the
    suite so every bench line is SELF-ANNOTATING: a reader can tell a
    code regression from a noise wave without re-running anything."""
    import multiprocessing as mp
    import statistics

    with mp.Pool(procs) as pool:
        walls = pool.map(_burn_loop, range(procs))
    return round(statistics.median(walls), 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    burn_pre = _burn_control()
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    corpus = ensure_corpus(spark)
    timings: dict[str, float] = {}

    # warm-up (JVM/codegen/Arrow) on a small slice, excluded from timing
    from freki_spark.pipeline import extract

    # salt_threshold=40 like the timed runs: the default threshold
    # would warm only the narrow path and leave the salted stages'
    # codegen/shuffle init inside the first timed run
    extract(spark.read.parquet(corpus).limit(200), salt_threshold=40).write.format(
        "noop"
    ).mode("overwrite").save()

    # the host's noise waves last minutes: spread the extraction timing
    # attempts across the whole bench window (before AND after the query
    # block) so at least one lands in a quiet phase; keep the min
    wall_a, n_docs = time_extraction(spark, corpus, runs=2)

    from freki_spark.queries import QUERIES

    for name in HEADLINE_QUERIES:
        best = float("inf")
        for _ in range(3):  # best-of-3: absorbs host noise waves
            t0 = time.monotonic()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)

    # HTML half of the pipeline (boilerplate strip), same extract()
    # entry point — dispatch on kind='html' happens inside the kernel
    html_corpus = ensure_html_corpus(spark)
    html_wall, n_html = time_extraction(spark, html_corpus, runs=3)
    timings["extract_pipeline_html"] = round(html_wall, 3)

    wall_b, _ = time_extraction(spark, corpus, runs=2)
    wall = min(wall_a, wall_b)
    timings["extract_pipeline"] = round(wall, 3)
    docs_per_sec = round(n_docs / wall, 1)

    total = round(sum(timings.values()), 3)
    burn_post = _burn_control()
    print(
        json.dumps(
            {
                "metric": "freki_spark_headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "docs_per_sec": docs_per_sec,
                "extract_docs": n_docs,
                "html_docs_per_sec": round(n_html / html_wall, 1),
                "html_extract_docs": n_html,
                "cpus": cpus,
                # host-quietness brackets (see _burn_control): ~1.2-2.6s
                # median = quiet window; larger = co-tenant noise wave —
                # read per-query highs against these, not as regressions
                "burn_pre_s": burn_pre,
                "burn_post_s": burn_post,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
