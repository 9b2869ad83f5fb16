"""Structured Streaming surface (Q20 + custom stateful operator).

Two jobs, both runnable deterministically in tests/queries via the
``availableNow`` trigger over a file source (the ``events`` parquet
re-staged into a temp dir), both with exact DuckDB oracles:

- hourly tumbling-window aggregation with a watermark (the canonical
  readStream → window agg → writeStream shape; complete output mode so
  every finalized window is visible in the memory sink);
- session counting per user with a 10-minute inactivity gap via
  ``applyInPandasWithState`` — the custom-stateful-operator escape
  hatch (freki itself has nothing streaming; this is the engine
  surface the north rule's scale point needs for incremental ingest).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import spec

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

SESSION_GAP_S = 600


def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Copy events into a single-file streaming source dir."""
    src = os.path.join(tempfile.mkdtemp(prefix="freki_stream_"), "events")
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    return src


def stream_hourly_counts(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.unix_timestamp("w.start").cast("bigint").alias("hour_epoch"), "n", "total"
    )


def _sessionize(key, pdfs, state: GroupState):
    """Count 10-min-gap sessions per user, carrying (last_ts_us,
    n_sessions) across micro-batches."""
    ts_list: list[int] = []
    for pdf in pdfs:
        ts_list.extend(int(t.value) // 1000 for t in pd.to_datetime(pdf["ts"]))
    ts_list.sort()
    if state.exists:
        last_us, n = state.get
    else:
        last_us, n = None, 0
    for us in ts_list:
        if last_us is None or us - last_us > SESSION_GAP_S * 1_000_000:
            n += 1
        last_us = us
    state.update((last_us, n))
    yield pd.DataFrame({"user_id": [key[0]], "n_sessions": [n]})


def stream_sessionize(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    src = _stage_events(spark, sf_dir)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_sessions", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(src)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode sink may hold one row per user per batch: keep the last
    t = spark.table(sink)
    return t.groupBy("user_id").agg(F.max("n_sessions").alias("n_sessions"))


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    salt_threshold: int = spec.SALT_SPAN_THRESHOLD,
) -> None:
    """Incremental extraction: the streaming analogue of the batch
    checkpoint path.  ``readStream`` over the (doc_id, spans) table;
    every micro-batch goes through the SAME ``checkpoint.write_batch``
    as a batch-job batch (one extraction, fast path + salted mega-doc
    path, then the data/quarantine writes from its cached result).
    Source-offset tracking in the streaming checkpoint gives resumable,
    no-reprocessing progress over an ever-growing input directory —
    at production scale this is how newly-landed documents are
    extracted continuously without re-planning the full table.
    """
    from ..checkpoint import write_batch
    from ..pipeline import DOC_SCHEMA

    def process_batch(df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash between the data write
        # and the streaming-offset commit replays the micro-batch, so
        # plain append would duplicate every doc.  write_batch
        # overwrites the micro-batch's own batch_id-keyed dirs, which
        # makes the replay idempotent.
        write_batch(df, out_dir, batch_id, salt_threshold)

    q = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)  # several micro-batches even in tests
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_SINK_N = [0]


def q_stream_hourly(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_hourly_counts(spark, sf_dir, f"stream_hourly_{_SINK_N[0]}")


SQL_STREAM_HOURLY = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_epoch,
       count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY 1
"""


def q_stream_sessionize(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_sessionize(spark, sf_dir, f"stream_sess_{_SINK_N[0]}")


SQL_STREAM_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN prev_ts IS NULL
                 OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_S} * 1000000
                 THEN 1 ELSE 0 END) AS INT) AS n_sessions
FROM g GROUP BY user_id
"""


def stream_dedup(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keyed on
    event_id.  The source is staged TWICE as two files and read with
    ``maxFilesPerTrigger=1``, so the second copy arrives in a later
    micro-batch and is deduped against the state store — the
    cross-batch path a continuous ingest pipeline exercises (duplicate
    deliveries from at-least-once upstreams).  The watermark delay
    bounds state: at production scale it is the upstream's max
    redelivery lag, not the table's full time range."""
    src = _stage_events(spark, sf_dir)
    # the duplicate delivery: same rows appended as a second file
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


def q_stream_dedup(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_dedup(spark, sf_dir, f"stream_dedup_{_SINK_N[0]}")


SQL_STREAM_DEDUP = """
SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids,
       round(sum(value), 2) AS total
FROM events GROUP BY event_type
"""


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming new-batch-vs-corpus dedup: the increment arrives as a
    stream (4 files, one per micro-batch via ``maxFilesPerTrigger``)
    and every micro-batch probes the SAME static corpus signature
    index — the stream-static shape of a continuous crawl ingest.  The
    per-batch scoring is literally the batch operator's
    ``_score_increment`` inside ``foreachBatch`` (writes are keyed by
    batch id, so retries are idempotent), and the oracle is the batch
    op's own SQL: stream == batch == DuckDB, three-way checked.

    Correctness note: each new doc lives in exactly one source file,
    so its candidate set is complete within its micro-batch and the
    per-batch election equals the global one."""
    from ..functions.dedup import (
        _bands,
        _fresh_batch,
        _mutated,
        _score_increment,
        _t,
        _with_minhash,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the static side: in production these ARE stored tables (the
    # signature table and its band-bucketed index).  Both checkpoint
    # ONCE, outside the micro-batch loop — the corpus is never
    # re-minhashed or re-banded per increment batch.
    base_mh = _with_minhash(d).localCheckpoint()
    base_bands = _bands(base_mh).localCheckpoint()

    base = tempfile.mkdtemp(prefix="freki_sinc_")
    src, out = os.path.join(base, "in"), os.path.join(base, "out")
    _mutated(d).unionByName(_fresh_batch(d)).repartition(4).write.parquet(src)

    def process_batch(df: DataFrame, batch_id: int) -> None:
        res = _score_increment(
            _with_minhash(df).localCheckpoint(), base_mh, base_bands
        )
        res.write.mode("overwrite").parquet(f"{out}/b{batch_id}")

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{out}/b*")


def q_stream_incremental_dedup(spark, sf_dir):
    return stream_incremental_dedup(spark, sf_dir)


def q_stream_extract(spark, sf_dir):
    """Fixture matrix through the STREAMING extraction path; the oracle
    is the same golden span set the batch paths are checked against, so
    this proves micro-batched incremental extraction is span-for-span
    identical to the batch pipeline."""
    from .. import fixtures
    from ..io import docs_to_df

    base = tempfile.mkdtemp(prefix="freki_sx_")
    src, out = os.path.join(base, "in"), os.path.join(base, "out")
    docs_to_df(spark, fixtures.fixture_matrix()).repartition(8).write.parquet(src)
    stream_extract(spark, src, out)
    good = spark.read.parquet(f"{out}/data")
    return (
        good.select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
    )


# same golden relation queries.py uses (constructed locally — importing
# it from ..queries would be circular)
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_GOLDEN = os.path.join(_REPO, "tests", "golden", "fixture_spans.jsonl")
SQL_STREAM_EXTRACT = (
    'SELECT doc_id, kind, text, media_ref, CAST("offset" AS INT) AS "offset" '
    f"FROM read_json('{_GOLDEN}')"
)


from ..functions.dedup import SQL_DEDUP_INCREMENTAL  # noqa: E402
from ..functions.text_analysis import SQL_CURATE_KEEP  # noqa: E402

def stream_curate(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    """Streaming curation: the fused Gopher+blocklist gate
    (functions.text_analysis.curate_relation) applied DIRECTLY on the
    stream — the gate is a stateless narrow transform, so it runs in
    append mode with no state store, no watermark, and no foreachBatch
    escape hatch: the cheapest possible streaming shape, and exactly
    how a continuous crawl ingest filters documents as they land.  The
    source is staged as 4 files read one per micro-batch, so the gate
    demonstrably produces identical verdicts across batch boundaries
    (oracle = the batch operator's own SQL: stream == batch ==
    DuckDB)."""
    from ..functions.text_analysis import curate_relation

    src = os.path.join(tempfile.mkdtemp(prefix="freki_scur_"), "docs")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(4).write.parquet(
        src
    )
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        curate_relation(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def q_stream_curate(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_curate(spark, sf_dir, f"stream_curate_{_SINK_N[0]}")


def stream_cms(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    """Streaming Count-Min sketch per event-time hour: the
    heavy_hitters_cms cell construction (imported — one hash rule for
    batch and stream) applied as a watermarked windowed aggregation.

    Why a sketch in the stream: an hourly top-terms / hot-keys monitor
    over an unbounded firehose cannot keep per-key state (key
    cardinality is unbounded); the CMS makes the per-window state a
    CONSTANT <= K*M cells whatever the key universe does, and cells
    partial-aggregate map-side before the shuffle exactly like the
    batch sketch.  The watermark bounds how long a window's cells stay
    in the state store; complete output mode + memory sink is the test
    harness (the q_stream_hourly convention), production would emit
    finalized windows in append mode."""
    from ..functions.search import _cms_cells

    src = _stage_events(spark, sf_dir)
    cells = _cms_cells(F.col("event_type"))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .select(F.window("ts", "1 hour").alias("w"), "event_type")
        .select("w", cells)
        .select("w", "c.k", "c.m")
        .groupBy("w", "k", "m")
        .agg(F.count("*").alias("cell_cnt"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.unix_timestamp("w.start").cast("bigint").alias("hour_epoch"),
        F.col("k").cast("int").alias("k"),
        "m",
        "cell_cnt",
    )


def q_stream_cms(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_cms(spark, sf_dir, f"stream_cms_{_SINK_N[0]}")


def _sql_stream_cms() -> str:
    from ..functions.search import CMS_K, _duck_cms_cell

    return f"""
WITH e AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_epoch,
                  event_type FROM events),
ek AS (SELECT hour_epoch, k, {_duck_cms_cell('event_type')} AS m
       FROM e, UNNEST(range(0, {CMS_K})) t(k))
SELECT hour_epoch, CAST(k AS INT) AS k, m, CAST(count(*) AS BIGINT) AS cell_cnt
FROM ek GROUP BY 1, 2, 3
"""


SQL_STREAM_CMS = _sql_stream_cms()


# --------------------------------------------------------------------------
# stream-static enrichment join — the canonical "enrich the event
# firehose with a slowly-changing dimension" shape (the one core
# Structured Streaming join mode the registry didn't yet exercise):
# each micro-batch joins the stream side to a STATIC dimension table
# (re-read per batch, so a dim refresh lands without restarting the
# query), then aggregates per (event-hour, enriched key) under the
# watermark.  LEFT join: an event whose user is missing from the dim
# must survive as segment='UNKNOWN', never drop — at 10^12 events a
# dim gap silently deleting rows is the worst failure mode.
#
# Scale shape: the dim side is broadcast (explicit hint — per-batch
# hash join with zero stream-side shuffle before the windowed agg);
# at a dim too big to broadcast this becomes the io.py bucketed-join
# seam.  The agg state is (n_hours × n_segments) — constant per
# window, watermark-bounded.
# --------------------------------------------------------------------------


def stream_enrich_agg(
    spark: SparkSession, sf_dir: str, sink: str, dim: DataFrame | None = None
) -> DataFrame:
    src = _stage_events(spark, sf_dir)
    if dim is None:
        dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id", "left")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.coalesce("segment", F.lit("UNKNOWN")).alias("segment"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.unix_timestamp("w.start").cast("bigint").alias("hour_epoch"),
        "segment",
        "n",
        "total",
    )


def q_stream_join(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_enrich_agg(spark, sf_dir, f"stream_join_{_SINK_N[0]}")


SQL_STREAM_JOIN = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_epoch,
       coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS n, round(sum(e.value), 2) AS total
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def stream_ss_attrib(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    """STREAM-STREAM interval join (the click-attribution shape and
    the last core Structured Streaming join mode beside the
    stream-static q_stream_join): views and purchases arrive as two
    independent watermarked streams; a purchase joins every view by
    the same user in the preceding hour.  The watermark + the
    two-sided time bound are what let Spark EVICT join state — without
    them a stream-stream join buffers both streams forever, the #1
    production OOM in streaming attribution.  Emitted per-pair in
    append mode (each pair finalizes once both watermarks pass it);
    lag is integer seconds (the shared timestamp rule).

    Scale shape (10^12 events): state is hash-partitioned on user_id
    (the equality key); per-key buffered rows are bounded by one
    hour of that user's own activity — watermark eviction keeps state
    O(recent window), never O(stream)."""
    src = _stage_events(spark, sf_dir)
    views = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(src)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purch_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("interval 1 hour")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purch_id",
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")
        ).cast("bigint").alias("lag_s"),
    )


def q_stream_ss_join(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_ss_attrib(spark, sf_dir, f"stream_ss_{_SINK_N[0]}")


SQL_STREAM_SS_JOIN = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purch_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS lag_s
FROM events v JOIN events p ON v.user_id = p.user_id
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_dq(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    """Streaming data-quality gate: the dq_checks rule set evaluated
    as a STREAMING global aggregate over the landing batch — the
    data-contract monitor a continuous ingest runs on every
    micro-batch before anything downstream trusts the stream.  Rule
    sums, landing-batch construction, and the rule-grain report are
    all single-sourced from functions.corpus_prep (dq_landing /
    dq_rule_aggs / dq_report), and the oracle IS the batch operator's
    SQL_DQ_CHECKS: stream == batch == DuckDB on one contract, the
    q_stream_curate convention.

    Streaming shape: conditional sums are fully mergeable, so the
    global aggregate partial-aggregates inside each micro-batch and
    merges constant-size state (6 numbers) across batches — the state
    store never grows with the corpus; complete output mode + memory
    sink is the test harness (the q_stream_hourly convention)."""
    from ..functions.corpus_prep import dq_landing, dq_report, dq_rule_aggs

    base = os.path.join(tempfile.mkdtemp(prefix="freki_sdq_"), "docs")
    dq_landing(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "lang", "n_chars"
        )
    ).coalesce(1).write.mode("overwrite").parquet(base)
    stream = (
        spark.readStream.schema(DOC_SCHEMA).parquet(base).agg(*dq_rule_aggs())
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dq_report(spark.table(sink))


def q_stream_dq(spark, sf_dir):
    _SINK_N[0] += 1
    return stream_dq(spark, sf_dir, f"stream_dq_{_SINK_N[0]}")


from ..functions.corpus_prep import SQL_DQ_CHECKS  # noqa: E402

QUERIES = {
    "q_stream_dq": q_stream_dq,
    "q_stream_ss_join": q_stream_ss_join,
    "q_stream_join": q_stream_join,
    "q_stream_cms": q_stream_cms,
    "q_stream_hourly": q_stream_hourly,
    "q_stream_curate": q_stream_curate,
    "q_stream_sessionize": q_stream_sessionize,
    "q_stream_dedup": q_stream_dedup,
    "q_stream_extract": q_stream_extract,
    "q_stream_incremental_dedup": q_stream_incremental_dedup,
}

ORACLE_SQL = {
    # the batch operator's own oracle: stream == batch == DuckDB
    "q_stream_dq": SQL_DQ_CHECKS,
    "q_stream_ss_join": SQL_STREAM_SS_JOIN,
    "q_stream_join": SQL_STREAM_JOIN,
    "q_stream_cms": SQL_STREAM_CMS,
    "q_stream_hourly": SQL_STREAM_HOURLY,
    "q_stream_sessionize": SQL_STREAM_SESSIONIZE,
    "q_stream_dedup": SQL_STREAM_DEDUP,
    "q_stream_extract": SQL_STREAM_EXTRACT,
    # the batch operator's own oracle: stream == batch == DuckDB
    "q_stream_incremental_dedup": SQL_DEDUP_INCREMENTAL,
    "q_stream_curate": SQL_CURATE_KEEP,
}
