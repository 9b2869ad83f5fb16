"""Corpus-preparation operators for training-data pipelines: PII
scrubbing, sliding-window chunking, deterministic stratified sampling,
and per-language n-gram statistics.

All JVM-side built-ins (regexp/array/window functions — no Python in
the hot path), all with exact DuckDB oracles.  Regex patterns are kept
in the Java-regex ∩ RE2 common dialect so both engines match the same
substrings; hashing goes through the shared md5 primitive.

Scale notes (100 TB): every op here is either narrow (pii_scrub,
chunk_sliding, sample_stratified are per-row map/flat-map — zero
shuffle, fully data-parallel) or a partial-agg-friendly groupBy
(ngram_topk: map-side combine on (lang, bigram), then a per-language
top-k window over the already-aggregated counts, which is tiny).
Deterministic hash sampling (vs rand()) keeps resumable runs and
retried tasks consistent — the same doc always lands in the same
stratum sample.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import (
    DUCK_MD5I32,
    DUCK_MD5I60,
    _ppm_exact,
    bigrams,
    duck_bigrams,
    md5i32,
    md5i60,
    toks,
)

# regexes valid and equivalent in Java regex AND RE2 (no lookaround)
EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.]+\.[a-z][a-z]+"
IP_RE = r"\b\d+\.\d+\.\d+\.\d+\b"
PHONE_RE = r"\b\d\d\d-\d\d\d\d\b"

CHUNK_WORDS = 20
CHUNK_STRIDE = 10

# per-language sampling rate, percent (md5-bucket < rate keeps the doc)
SAMPLE_RATES = {"en": 10, "es": 25, "de": 25, "fr": 25, "zh": 40}
NGRAM_TOPK = 5


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --------------------------------------------------------------------------
# pii_scrub — redaction.  The driver corpus is synthetic (no real PII),
# so the op first derives a deterministic PII-bearing variant of each
# row from doc_id, then scrubs it: what is verified cross-engine is the
# detection + replacement mechanism itself.
# --------------------------------------------------------------------------


def pii_scrub(spark, sf_dir):
    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        sid,
        F.lit("@mail.example.com from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(IP_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(aug, F.lit(PHONE_RE), 0)).alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


SQL_PII_SCRUB = rf"""
WITH a AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
              || '.0.' || CAST(doc_id % 250 AS VARCHAR)
              || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS aug
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{IP_RE}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(aug, '{PHONE_RE}')) AS INT) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(
           aug, '{EMAIL_RE}', '<EMAIL>', 'g'), '{IP_RE}', '<IP>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM a
"""


# --------------------------------------------------------------------------
# chunk_sliding — fixed-size sliding word windows (the standard
# training-example chunker).  Pure flat-map: sequence + slice +
# explode, no shuffle; chunk count scales with doc length, not corpus
# size, so the op stays narrow at any scale.
# --------------------------------------------------------------------------


def chunk_sliding(spark, sf_dir):
    d = _docs(spark, sf_dir)
    tk = toks(F.col("text"))
    d = d.select("doc_id", tk.alias("tk"))
    starts = F.sequence(
        F.lit(0), F.size("tk") - 1, F.lit(CHUNK_STRIDE)
    )
    d = d.select("doc_id", "tk", F.explode(starts).alias("s"))
    chunk = F.slice("tk", F.col("s") + 1, CHUNK_WORDS)
    return d.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_words"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


SQL_CHUNK_SLIDING = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
     s AS (SELECT doc_id, tk,
                  unnest(generate_series(0, len(tk) - 1, {CHUNK_STRIDE})) AS s
           FROM t)
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS INT) AS chunk_id,
       CAST(len(tk[s + 1 : s + {CHUNK_WORDS}]) AS INT) AS n_words,
       array_to_string(tk[s + 1 : s + {CHUNK_WORDS}], ' ') AS chunk_text
FROM s
"""


# --------------------------------------------------------------------------
# sample_stratified — deterministic per-language hash sampling.
# --------------------------------------------------------------------------


def sample_stratified(spark, sf_dir):
    d = _docs(spark, sf_dir)
    bucket = md5i32(F.col("doc_id").cast("string")) % 100
    rate = None
    for lang, r in SAMPLE_RATES.items():
        rate = (
            F.when(F.col("lang") == lang, F.lit(r))
            if rate is None
            else rate.when(F.col("lang") == lang, F.lit(r))
        )
    rate = rate.otherwise(F.lit(0))
    return d.filter(bucket < rate).select("doc_id", "lang", "source", "n_chars")


_DUCK_RATE = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())
    + " ELSE 0 END"
)

SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {DUCK_MD5I32.format(x="CAST(doc_id AS VARCHAR)")} % 100 < ({_DUCK_RATE})
"""


# --------------------------------------------------------------------------
# train_split — dataset finalization: deterministic train/valid/test
# assignment (98/1/1 by md5 bucket, salted with a split tag so it is
# INDEPENDENT of every other md5-bucket decision in the pipeline —
# sample_stratified's bucket and this one must not correlate, or the
# sampled subset would be split-biased).  Hash-based assignment is the
# retry/resume-stable form: a re-run, a backfill, or a late-arriving
# shard lands every doc in the same split forever, which random()
# cannot promise.
#
# Scale shape: one narrow filter-free projection — zero Exchange.
# --------------------------------------------------------------------------

SPLIT_VALID_PCT = 1
SPLIT_TEST_PCT = 1


def _split_bucket(idc):
    """The salted md5 split bucket of a doc_id column — the ONE split
    assignment rule (train_split and split_leakage both read it)."""
    return md5i32(F.concat(F.lit("split|"), idc.cast("string"))) % 100


def _split_label(bucket):
    return (
        F.when(bucket < SPLIT_VALID_PCT, F.lit("valid"))
        .when(bucket < SPLIT_VALID_PCT + SPLIT_TEST_PCT, F.lit("test"))
        .otherwise(F.lit("train"))
    )


def train_split(spark, sf_dir):
    d = _docs(spark, sf_dir)
    bucket = _split_bucket(F.col("doc_id"))
    return d.select(
        "doc_id", "lang", bucket.cast("int").alias("bucket"),
        _split_label(bucket).alias("split"),
    )


def _duck_split_bucket(idvar: str) -> str:
    h = DUCK_MD5I32.format(x=f"'split|' || CAST({idvar} AS VARCHAR)")
    return f"CAST({h} % 100 AS INT)"


def _duck_split_case(var: str) -> str:
    """Split label from an already-bound bucket column — one mirror of
    _split_label, applied to a named column so the bucket expression
    is never inlined twice (it would have to stay byte-identical or
    the bucket column and the label silently desync)."""
    return (
        f"CASE WHEN {var} < {SPLIT_VALID_PCT} THEN 'valid' "
        f"WHEN {var} < {SPLIT_VALID_PCT + SPLIT_TEST_PCT} THEN 'test' "
        f"ELSE 'train' END"
    )


SQL_TRAIN_SPLIT = f"""
SELECT doc_id, lang, bucket, {_duck_split_case('bucket')} AS split
FROM (SELECT doc_id, lang, {_duck_split_bucket('doc_id')} AS bucket
      FROM documents)
"""


# --------------------------------------------------------------------------
# ngram_topk — most frequent bigrams per language (corpus statistics /
# contamination screening).  groupBy gets map-side partial aggregation;
# the ranking window runs over the tiny aggregated result.
# --------------------------------------------------------------------------


def ngram_topk(spark, sf_dir):
    d = _docs(spark, sf_dir)
    tk = toks(F.col("text"))
    n = F.size(tk)
    bigrams = F.zip_with(
        F.slice(tk, 1, n - 1),
        F.slice(tk, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    e = d.select("lang", F.explode(bigrams).alias("bigram"))
    agg = e.groupBy("lang", "bigram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NGRAM_TOPK)
        .select("lang", "bigram", "cnt")
    )


SQL_NGRAM_TOPK = f"""
WITH t AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
     e AS (SELECT lang,
                  unnest(list_transform(generate_series(1, len(tk) - 1),
                                        i -> tk[i] || ' ' || tk[i + 1])) AS bigram
           FROM t),
     a AS (SELECT lang, bigram, CAST(count(*) AS BIGINT) AS cnt
           FROM e GROUP BY lang, bigram)
SELECT lang, bigram, cnt
FROM (SELECT lang, bigram, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram)
               AS rk
      FROM a)
WHERE rk <= {NGRAM_TOPK}
"""


# --------------------------------------------------------------------------
# tfidf_topk — characteristic terms per document (tf-idf, top 3).
# Two partial-agg-friendly groupBys + one broadcast-sized df join; the
# idf table is tiny (vocabulary) and broadcasts at any corpus size.
# log() is bit-identical IEEE in both engines for the same double, but
# sums are order-dependent — scores are floor-scaled like quality_score.
# --------------------------------------------------------------------------

TFIDF_TOPK = 3


def tfidf_topk(spark, sf_dir):
    d = _docs(spark, sf_dir)
    # corpus size as a 1-row aggregate folded into the plan (broadcast
    # to the vocabulary-sized df table) — no driver-side action, the
    # count is computed by the same job that uses it
    total = d.agg(F.count("*").cast("double").alias("n_docs_total"))
    e = d.select("doc_id", F.explode(toks(F.col("text"))).alias("term"))
    tf = e.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        e.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(total))
        .withColumn("idf", F.log(F.col("n_docs_total") / F.col("df")))
        .drop("n_docs_total")
    )
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "score", F.floor(F.col("tf") * F.col("idf") * 10000) / 10000.0
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "score")
    )


SQL_TFIDF_TOPK = f"""
WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
     tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM e GROUP BY doc_id, term),
     df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
                   ln((SELECT count(*) FROM documents) / df) AS idf
            FROM e GROUP BY term),
     s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  floor(tf.tf * df.idf * 10000) / 10000.0 AS score
           FROM tf JOIN df USING (term))
SELECT doc_id, term, tf, df, score
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rk FROM s)
WHERE rk <= {TFIDF_TOPK}
"""


# --------------------------------------------------------------------------
# q_compact_plan — small-file compaction planning: greedy cumulative
# binning of documents into ~target-size output files per partition
# key (the maintenance job every 10^12-row table needs).  One window
# cumsum per partition — no data movement, plan only.
# --------------------------------------------------------------------------

COMPACT_TARGET_CHARS = 4000

# doc_ids per cumsum shard.  The running-layout ops below need an
# exclusive running sum in (lang, doc_id) order; hanging that on
# Window.partitionBy(lang) caps parallelism at the number of languages
# (~5 concurrent tasks over the whole corpus at 100 TB).  Instead:
# shard = floor(doc_id / CUMSUM_SHARD) is monotone in doc_id, so a
# per-(lang, shard) window plus a broadcast join of per-shard base
# offsets (cumsum over shard TOTALS — a langs x shards row table)
# reproduces the single-window result exactly, with shard-count
# parallelism.  Same two-pass shape as pipeline.extract_salted's
# distributed renumber.  At 10^12 docs, size CUMSUM_SHARD so the bases
# table stays broadcastable (shards ~ max_doc_id / CUMSUM_SHARD).
CUMSUM_SHARD = 1024


def _sharded_running_start(d, val_col: str):
    """Add `start` = exclusive running sum of ``val_col`` over doc_id
    order within each lang, computed with (lang, shard)-grain windows
    (see CUMSUM_SHARD note above)."""
    d = d.withColumn("_shard", F.floor(F.col("doc_id") / CUMSUM_SHARD))
    w1 = Window.partitionBy("lang", "_shard").orderBy("doc_id")
    intra = F.sum(val_col).over(w1) - F.col(val_col)
    tot = d.groupBy("lang", "_shard").agg(F.sum(val_col).alias("_tot"))
    wb = Window.partitionBy("lang").orderBy("_shard")
    bases = tot.withColumn(
        "_base", F.sum("_tot").over(wb) - F.col("_tot")
    ).drop("_tot")
    return (
        d.withColumn("_intra", intra)
        .join(F.broadcast(bases), ["lang", "_shard"])
        .withColumn("start", F.col("_base") + F.col("_intra"))
        .drop("_shard", "_intra", "_base")
    )


def q_compact_plan(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    d = _sharded_running_start(d, "n_chars")
    bin_id = F.floor(F.col("start") / COMPACT_TARGET_CHARS)
    d = d.select("doc_id", "lang", "n_chars", bin_id.alias("file_bin"))
    return d.groupBy("lang", "file_bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("bin_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SQL_COMPACT_PLAN = f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         CAST(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id)
                     - n_chars) / {COMPACT_TARGET_CHARS}) AS BIGINT) AS file_bin
  FROM documents
)
SELECT lang, file_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS bin_chars,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM b GROUP BY lang, file_bin
"""


# --------------------------------------------------------------------------
# pack_sequences — GPT-style concatenate-then-chunk packing layout:
# docs are laid end-to-end in (lang, doc_id) order and cut into
# fixed-length training sequences; each doc gets the sequence id and
# intra-sequence offset where it starts, plus whether it straddles a
# boundary.  One window cumsum per shard — plan-only, no data motion;
# the actual token concatenation happens downstream in whatever
# tokenizer job consumes this layout.
# --------------------------------------------------------------------------

SEQ_LEN = 256


def seq_layout_cols(start, n_tokens):
    """The packing-layout convention — (seq_id, seq_offset, straddles)
    from a running token start — single-sourced for every packer
    (pack_sequences, pack_interleaved, similarity.semantic_pack) so a
    convention change (straddle semantics, SEQ_LEN widening) cannot
    drift between them.  `DUCK_SEQ_LAYOUT` is the oracle mirror."""
    return [
        F.floor(start / SEQ_LEN).cast("bigint").alias("seq_id"),
        (start % SEQ_LEN).cast("int").alias("seq_offset"),
        (
            F.floor(start / SEQ_LEN)
            != F.floor((start + n_tokens - 1) / SEQ_LEN)
        ).alias("straddles"),
    ]


# oracle mirror of seq_layout_cols over CTE columns `start`/`n_tokens`
DUCK_SEQ_LAYOUT = f"""CAST(floor(start / {SEQ_LEN}) AS BIGINT) AS seq_id,
       CAST(start % {SEQ_LEN} AS INT) AS seq_offset,
       floor(start / {SEQ_LEN})
         <> floor((start + n_tokens - 1) / {SEQ_LEN}) AS straddles"""


def pack_sequences(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n_tok = F.size(toks(F.col("text")))
    d = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    d = _sharded_running_start(d, "n_tokens")
    start = F.col("start")
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        *seq_layout_cols(start, F.col("n_tokens")),
    )


IMG_TOKENS = 64  # placeholder tokens a vision encoder contributes per frame


def pack_interleaved(spark, sf_dir):
    """Multimodal sequence packing: the pack_sequences layout over
    INTERLEAVED text+media documents, where each document's budget is
    its text tokens plus IMG_TOKENS placeholder tokens per media frame
    (the modern VLM training layout — images enter the sequence as a
    fixed run of placeholder tokens, Flamingo/LLaVA-style).

    Scale shape (100 TB): the media dimension joins on doc_id — at
    corpus scale both sides are bucketed by doc_id (io.py convention)
    so the join is co-located, and only (doc_id, n_media_tokens) pairs
    leave the media table (blob and metadata pruned at the scan); the
    running start reuses the (lang, shard)-grain two-pass cumsum."""
    from .multimodal import synth_media_table

    d = _docs(spark, sf_dir)
    media = synth_media_table(d).select(
        "doc_id", (F.col("meta.n_frames") * IMG_TOKENS).alias("n_media_tokens")
    )
    t = d.select("doc_id", "lang", F.size(toks(F.col("text"))).alias("n_text_tokens"))
    j = t.join(media, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_text_tokens",
        F.coalesce("n_media_tokens", F.lit(0)).alias("n_media_tokens"),
    )
    j = j.withColumn("n_tokens", F.col("n_text_tokens") + F.col("n_media_tokens"))
    j = _sharded_running_start(j, "n_tokens")
    start = F.col("start")
    return j.select(
        "doc_id",
        "lang",
        "n_text_tokens",
        "n_media_tokens",
        "n_tokens",
        *seq_layout_cols(start, F.col("n_tokens")),
    )


# n_frames mirror of synth_media_table (1 + doc_id % 16) — the
# SQL_MEDIA_RESIZE precedent for mirroring the synth formula inline
SQL_PACK_INTERLEAVED = f"""
WITH m AS (
  SELECT doc_id,
         CAST((1 + doc_id % 16) * {IMG_TOKENS} AS INT) AS n_media_tokens
  FROM documents WHERE doc_id % 5 = 0
),
t AS (
  SELECT d.doc_id AS doc_id, lang,
         CAST(len(string_split(text, ' ')) AS INT) AS n_text_tokens,
         CAST(coalesce(n_media_tokens, 0) AS INT) AS n_media_tokens
  FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
),
s AS (
  SELECT *, n_text_tokens + n_media_tokens AS n_tokens,
         sum(n_text_tokens + n_media_tokens)
           OVER (PARTITION BY lang ORDER BY doc_id)
           - (n_text_tokens + n_media_tokens) AS start
  FROM t
)
SELECT doc_id, lang, n_text_tokens, n_media_tokens,
       CAST(n_tokens AS INT) AS n_tokens,
       {DUCK_SEQ_LAYOUT}
FROM s
"""


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         sum(len(string_split(text, ' ')))
           OVER (PARTITION BY lang ORDER BY doc_id)
           - len(string_split(text, ' ')) AS start
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       {DUCK_SEQ_LAYOUT}
FROM t
"""


# --------------------------------------------------------------------------
# pack_stats — packing-efficiency telemetry over the pack_sequences
# layout: per shard (lang), document count, total token mass, the
# number of SEQ_LEN sequences the mass fills, the wasted tail tokens
# of the final partial sequence, and the document-straddle rate in
# exact ppm (straddling docs pay the attention-mask / loss-boundary
# tax — the number every packing-discipline comparison reads first;
# cf. pack_lpt's balance bound and semantic_pack's coherence stats).
#
# The layout relation is SINGLE-SOURCED from pack_sequences (and the
# oracle embeds SQL_PACK_SEQUENCES as its CTE — the rank_agreement
# convention), so the stats can never desync from the layout they
# describe.  n_seqs/tail_waste are closed-form integer expressions of
# the summed mass; straddle_ppm goes through _ppm_exact (den = docs
# per shard, far under the ~9.2e15 staging bound).
#
# Scale shape: ONE pass over the layout, lang-grain partial agg
# (map-side combine feeds the single Exchange), then per-group
# closed-form arithmetic — nothing corpus-sized survives the groupBy.
# --------------------------------------------------------------------------


def pack_stats(spark, sf_dir):
    p = pack_sequences(spark, sf_dir)
    agg = p.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.col("straddles").cast("int")).cast("bigint").alias(
            "n_straddlers"
        ),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_tokens",
        "n_straddlers",
        F.expr(f"(total_tokens + {SEQ_LEN} - 1) div {SEQ_LEN}")
        .cast("bigint")
        .alias("n_seqs"),
        F.expr(f"({SEQ_LEN} - total_tokens % {SEQ_LEN}) % {SEQ_LEN}")
        .cast("int")
        .alias("tail_waste"),
        F.expr(_ppm_exact("n_straddlers", "n_docs", "div"))
        .cast("bigint")
        .alias("straddle_ppm"),
    )


SQL_PACK_STATS = f"""
WITH p AS ({SQL_PACK_SEQUENCES}),
a AS (
  SELECT lang, count(*) AS n_docs, sum(n_tokens) AS total_tokens,
         sum(CASE WHEN straddles THEN 1 ELSE 0 END) AS n_straddlers
  FROM p GROUP BY 1
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(n_straddlers AS BIGINT) AS n_straddlers,
       CAST((total_tokens + {SEQ_LEN} - 1) // {SEQ_LEN} AS BIGINT) AS n_seqs,
       CAST(({SEQ_LEN} - total_tokens % {SEQ_LEN}) % {SEQ_LEN} AS INT)
         AS tail_waste,
       CAST({_ppm_exact('n_straddlers', 'n_docs', '//')} AS BIGINT)
         AS straddle_ppm
FROM a
"""


# --------------------------------------------------------------------------
# decontaminate_ngram — benchmark decontamination.  Training corpora
# must not contain evaluation data; the standard defense is n-gram
# overlap (e.g. GPT-3 App. C / PaLM §8: 8-13-token collisions against
# every benchmark).  The driver corpus carries no real eval sets, so a
# benchmark is synthesized deterministically: every (doc_id %
# DECON_BENCH_MOD == DECON_BENCH_REM) document contributes one
# DECON_WINDOW-token window as an "eval prompt"; what is verified
# cross-engine is the overlap-detection mechanism itself.
# --------------------------------------------------------------------------

DECON_NGRAM = 5
DECON_WIN_START = 5  # 1-based token index where the prompt window starts
DECON_WINDOW = 8
DECON_BENCH_MOD = 97
DECON_BENCH_REM = 3
DECON_HIT_MIN = 2  # >= this many distinct benchmark n-grams -> contaminated


def _decon_tokens(spark, sf_dir):
    # tokens bound first — shingles()' slice lambda over a raw split()
    # expression is O(n^2) per doc (the CLAUDE.md HOF rule); the bench
    # side already works over the bound `w` window column
    return _docs(spark, sf_dir).select("doc_id", toks(F.col("text")).alias("_tk"))


def _decon_bench(d):
    """The synthesized benchmark shingle set over token-bound docs `d`
    (shared by the exact and bloom-prefiltered decontamination ops)."""
    from .common import shingles

    win = F.slice(F.col("_tk"), DECON_WIN_START, DECON_WINDOW)
    return (
        d.filter(F.col("doc_id") % DECON_BENCH_MOD == DECON_BENCH_REM)
        .select(win.alias("w"))
        .filter(F.size("w") == DECON_WINDOW)
        .select(F.explode(shingles(F.col("w"), DECON_NGRAM)).alias("sh"))
        .distinct()
    )


def decontaminate_ngram(spark, sf_dir):
    """Report every document sharing >=1 DECON_NGRAM-gram with the
    benchmark set, with its hit count and a contaminated flag (real
    pipelines drop or redact the flagged docs).

    Scale shape (100 TB): the benchmark n-gram set is eval-sized
    (~10^5 prompts, a few MB hashed) -> broadcast; the corpus side is a
    flat-map explode + broadcast semi-join, then a partial-agg count on
    doc_id over only the matched rows (a tiny fraction of the corpus).
    One shuffle, never a corpus x benchmark shuffle join."""
    from .common import shingles

    d = _decon_tokens(spark, sf_dir)
    bench = _decon_bench(d)
    dsh = d.select(
        "doc_id", F.explode(shingles(F.col("_tk"), DECON_NGRAM)).alias("sh")
    )
    return _decon_score(dsh, bench)


def _decon_score(dsh, bench):
    """The shared output tail of both decontamination ops: exact
    verify join over (doc_id, sh) rows + per-doc distinct-hit count +
    contaminated flag — one place, so the hit/flag rule can't drift
    between the exact and bloom paths."""
    return (
        dsh.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_hits"))
        .withColumn(
            "contaminated", (F.col("n_hits") >= DECON_HIT_MIN).cast("int")
        )
    )


def _sql_decontaminate() -> str:
    from .common import duck_shingles

    toks_sql = "string_split(text, ' ')"
    win_sql = f"{toks_sql}[{DECON_WIN_START}:{DECON_WIN_START + DECON_WINDOW - 1}]"
    return f"""
WITH bench AS (
  SELECT DISTINCT unnest({duck_shingles("w", DECON_NGRAM)}) AS sh
  FROM (
    SELECT {win_sql} AS w FROM documents
    WHERE doc_id % {DECON_BENCH_MOD} = {DECON_BENCH_REM}
      AND len({toks_sql}) >= {DECON_WIN_START + DECON_WINDOW - 1}
  )
),
dsh AS (
  SELECT doc_id, unnest({duck_shingles(toks_sql, DECON_NGRAM)}) AS sh
  FROM documents
)
SELECT doc_id, count(DISTINCT d.sh) AS n_hits,
       CASE WHEN count(DISTINCT d.sh) >= {DECON_HIT_MIN} THEN 1 ELSE 0 END
         AS contaminated
FROM dsh d JOIN bench b ON d.sh = b.sh
GROUP BY doc_id
"""


SQL_DECONTAMINATE = _sql_decontaminate()


# --------------------------------------------------------------------------
# decontaminate_bloom — the same contract as decontaminate_ngram, but
# the corpus side never reaches the explode/join unless a narrow
# Bloom-filter prefilter fires (the production shape: GPT-3 App. C /
# The Pile built their eval-set filters OFFLINE and shipped them to
# every worker).  The filter over the benchmark shingles is built
# driver-side — legitimate because the benchmark is eval-sized, never
# the corpus; in production it is a precomputed artifact loaded from
# the eval-set registry — and shipped as ONE plan literal (the
# quality_classifier weight-table precedent).  At 10^12 docs the win
# is that non-candidate documents (the overwhelming majority) are
# dropped by a zero-Exchange scan-side filter without ever exploding
# into shingle rows; only Bloom candidates pay the exact verify join,
# and Bloom false positives are removed there, so the output is
# EXACTLY the n-gram overlap relation (oracle-shared with
# decontaminate_ngram).  No false negatives by construction: every
# true-hit shingle has all DECON_BLOOM_K bits set.  m=2^16 bits fits
# the synthesized benchmark (~10^3 shingles -> FP/shingle ~1e-5); at
# real eval-set sizes (~10^6-10^7 shingles) m scales to 2^27-2^30 —
# still a one-copy-per-executor broadcast of 16-128 MB.
# --------------------------------------------------------------------------

DECON_BLOOM_BITS = 1 << 16
DECON_BLOOM_K = 3


def _bloom_positions(sh_col):
    """K bit positions per shingle: independent hashes via xxhash64
    over seed-suffixed strings, folded into [0, DECON_BLOOM_BITS)."""
    return [
        F.pmod(
            F.xxhash64(F.concat(sh_col, F.lit(f"|{i}"))),
            F.lit(DECON_BLOOM_BITS),
        ).cast("int")
        for i in range(DECON_BLOOM_K)
    ]


def _bloom_literal(bench) -> str:
    """Aggregate the benchmark's bit positions (Spark-side distinct,
    so the driver collect is bounded by min(K x |bench|, m)) into a
    '0'/'1' bit string."""
    pos = bench.select(
        F.explode(F.array(*_bloom_positions(F.col("sh")))).alias("p")
    ).distinct()
    bits = {r.p for r in pos.collect()}
    return "".join("1" if i in bits else "0" for i in range(DECON_BLOOM_BITS))


def _bloom_candidates(d, bloom: str):
    """Zero-Exchange prefilter: keep docs where ANY shingle has all K
    bloom bits set.  `_sh` stays bound for the verify stage."""
    lit = F.lit(bloom)
    from .common import shingles

    dsh = d.select("doc_id", shingles(F.col("_tk"), DECON_NGRAM).alias("_sh"))

    def hit(g):
        cond = F.lit(True)
        for p in _bloom_positions(g):
            cond = cond & (F.substring(lit, p + 1, F.lit(1)) == "1")
        return cond

    return dsh.filter(F.exists(F.col("_sh"), hit))


def decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered benchmark decontamination: identical output
    to decontaminate_ngram (same oracle SQL), but the corpus explodes
    into shingle rows ONLY for Bloom-candidate documents.

    Note: constructing this DataFrame runs one eager Spark job (the
    bench-position collect that builds the plan literal) — inherent to
    a data-dependent literal; the bench is persisted so the verify
    join reuses the materialization instead of recomputing it."""
    d = _decon_tokens(spark, sf_dir)
    bench = _decon_bench(d).persist()
    cand = _bloom_candidates(d, _bloom_literal(bench))
    return _decon_score(cand.select("doc_id", F.explode("_sh").alias("sh")), bench)


# --------------------------------------------------------------------------
# url_normalize — URL canonicalization + registrable-domain extraction
# (the keys web-corpus pipelines dedup on and cap crawl share by).  The
# driver corpus has no URL column, so a deterministic messy URL is
# synthesized per row from (source, doc_id) — the verified artifact is
# the normalization mechanism.  Canonical steps (all narrow
# Java∩RE2-dialect regex, zero shuffle except the per-domain rollup):
# lowercase scheme+host, strip the default :443/:80 port, drop the
# fragment, drop utm_* tracking params, strip a leading www.
# --------------------------------------------------------------------------


def _synth_url():
    sid = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM:443/Articles/"),
        sid,
        F.lit("/?utm_source=feed&id="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_campaign=x#section-"),
        (F.col("doc_id") % 3).cast("string"),
    )


def canon_url(url_col) -> "F.Column":
    """Canonical URL expression (pure narrow column fn, testable on
    arbitrary URLs): 1. drop fragment; 2. lowercase the
    scheme://host[:port] prefix (path/query case is significant and
    preserved); 3. strip default :443/:80 port; 4. strip utm_* params
    delimiter-safely — split at the first '?', prefix every param with
    '&' so each utm segment carries its own delimiter (consecutive
    params never share the matched char), global-remove '&utm_x=v'
    segments, re-attach with '?' only when params remain; 5. strip a
    leading www."""
    u = F.regexp_replace(url_col, r"#.*", "")
    prefix = F.lower(F.regexp_extract(u, r"^([^/]*//[^/]*)", 1))
    rest = F.regexp_replace(u, r"^[^/]*//[^/]*", "")
    u = F.concat(prefix, rest)
    u = F.regexp_replace(u, r"^([a-z]+://[^/:]+):(443|80)(/|$)", r"$1$3")
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    qs = F.regexp_replace(u, r"^[^?]*\??", "")
    kept = F.regexp_replace(
        F.concat(F.lit("&"), qs), r"&utm_[a-z]+=[^&]*", ""
    )
    u = F.when(
        F.length(kept) > 1,  # '' (all stripped) or '&' (no query at all)
        F.concat(base, F.lit("?"), F.substring(kept, 2, 1 << 30)),
    ).otherwise(base)
    return F.regexp_replace(u, r"^([a-z]+://)www\.", r"$1")


def url_normalize(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", _synth_url().alias("url"))
    u = canon_url(F.col("url"))
    domain = F.regexp_extract(u, r"^[a-z]+://([^/:]+)", 1)
    out = d.select("doc_id", u.alias("url_canon"), domain.alias("domain"))
    per_domain = out.groupBy("domain").agg(F.count("*").alias("n_urls"))
    return out.join(F.broadcast(per_domain), "domain").select(
        "doc_id", "domain", "url_canon", "n_urls"
    )


def _sql_canon(synth: str) -> str:
    """DuckDB mirror of ``canon_url`` applied to the SQL expression
    ``synth`` (same regex chain, step for step)."""
    u = f"regexp_replace({synth}, '#.*', '', 'g')"
    u = (
        f"lower(regexp_extract({u}, '^([^/]*//[^/]*)', 1)) || "
        f"regexp_replace({u}, '^[^/]*//[^/]*', '')"
    )
    u = f"regexp_replace({u}, '^([a-z]+://[^/:]+):(443|80)(/|$)', '\\1\\3')"
    base = f"regexp_extract({u}, '^([^?]*)', 1)"
    kept = (
        f"regexp_replace('&' || regexp_replace({u}, '^[^?]*\\??', ''),"
        f" '&utm_[a-z]+=[^&]*', '', 'g')"
    )
    u = (
        f"CASE WHEN len({kept}) > 1 THEN {base} || '?' || substr({kept}, 2)"
        f" ELSE {base} END"
    )
    return f"regexp_replace({u}, '^([a-z]+://)www\\.', '\\1')"


def _sql_url_normalize() -> str:
    synth = (
        "'HTTPS://WWW.' || source || '.Example.COM:443/Articles/' || doc_id"
        " || '/?utm_source=feed&id=' || (doc_id % 7)"
        " || '&utm_campaign=x#section-' || (doc_id % 3)"
    )
    u = _sql_canon(synth)
    return f"""
WITH c AS (
  SELECT doc_id, {u} AS url_canon FROM documents
),
d AS (
  SELECT doc_id, url_canon,
         regexp_extract(url_canon, '^[a-z]+://([^/:]+)', 1) AS domain
  FROM c
)
SELECT doc_id, domain, url_canon,
       count(*) OVER (PARTITION BY domain) AS n_urls
FROM d
"""


SQL_URL_NORMALIZE = _sql_url_normalize()


# --------------------------------------------------------------------------
# url_dedup — canonical-URL exact dedup (the FIRST dedup stage of every
# web pipeline: collapse re-crawls and URL variants of the same page
# BEFORE any content hashing touches the text).  Synthesis gives each
# underlying article (doc_id % URL_DEDUP_ARTICLES) several crawled
# variants — WWW-prefixed vs bare host, utm-decorated, fragment-carrying
# — which `canon_url` must collapse to one canonical form; keeper =
# lowest doc_id (earliest crawl) per canonical URL.
#
# Scale shape (100 TB): only (doc_id, url_canon) pairs ever shuffle —
# the text column is never touched, so the exchange is ~60 B/row
# regardless of document size.  The keeper election is a
# partial-aggregable min (map-side combine), and the decision joins
# back on url_canon as a plain equi-join AQE can skew-split if one URL
# was crawled 10^6 times.  In production the join-back is usually
# skipped entirely: the (url_canon, keeper_id) relation IS the output
# and ingestion anti-joins against it.
# --------------------------------------------------------------------------

URL_DEDUP_ARTICLES = 151


def _synth_url_dup():
    art = F.col("doc_id") % URL_DEDUP_ARTICLES
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"),
        (art % 17).cast("string"),
        F.lit(".example.com/a/"),
        art.cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=mirror")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("#frag-"), (F.col("doc_id") % 4).cast("string")),
        ).otherwise(F.lit("")),
    )


def url_dedup(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", canon_url(_synth_url_dup()).alias("url_canon")
    )
    keep = d.groupBy("url_canon").agg(F.min("doc_id").alias("keeper_id"))
    return d.join(keep, "url_canon").select(
        "doc_id",
        "url_canon",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).cast("int").alias("kept"),
    )


def _sql_url_dedup() -> str:
    synth = (
        "'https://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END"
        f" || 'site' || CAST(doc_id % {URL_DEDUP_ARTICLES} % 17 AS VARCHAR)"
        f" || '.example.com/a/' || CAST(doc_id % {URL_DEDUP_ARTICLES} AS VARCHAR)"
        " || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=mirror' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0"
        "         THEN '#frag-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END"
    )
    u = _sql_canon(synth)
    return f"""
WITH c AS (
  SELECT doc_id, {u} AS url_canon FROM documents
)
SELECT doc_id, url_canon,
       min(doc_id) OVER (PARTITION BY url_canon) AS keeper_id,
       CAST(doc_id = min(doc_id) OVER (PARTITION BY url_canon) AS INT) AS kept
FROM c
"""


SQL_URL_DEDUP = _sql_url_dedup()


# --------------------------------------------------------------------------
# shuffle_deterministic — seeded global training-order shuffle.  Every
# epoch of LLM training consumes the corpus in a pseudorandom order
# that must be DETERMINISTIC (resumable mid-epoch, reproducible across
# retried tasks) and cheap to compute.  rand() fails both; a seeded
# hash permutation fails neither: each doc's position is the dense
# rank of md5(seed, doc_id).
#
# Scale shape (100 TB): the dense rank never runs as one global sort.
# The hash's HIGH bits split the key space into 2^SHUFFLE_SHARD_BITS
# contiguous RANGES (shard = key >> (32 - bits)), so concatenating
# within-shard (key, doc_id) orders in shard order IS the global
# (key, doc_id) order — the shard count is a pure parallelism dial
# (2^10..2^20 at real scale) that can be retuned without changing a
# single position, which is what makes a mid-epoch resume after a
# parallelism change safe.  (Low-bit modulo sharding would interleave
# the ranges and bake the shard count into the permutation itself.)
# Within-shard ranks use (shard)-grain windows and the global offset
# of each shard comes from a tiny count-per-shard agg broadcast back —
# the exact two-pass rebase q_compact_plan/pack_sequences use.  The
# only full-data exchange is the one hash partition any dense global
# numbering needs.
# --------------------------------------------------------------------------

SHUFFLE_SEED = 42
SHUFFLE_SHARD_BITS = 6  # 64 shards
SHUFFLE_SHARDS = 1 << SHUFFLE_SHARD_BITS


def shuffle_deterministic(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id")
    key = md5i32(
        F.concat(F.lit(f"shuffle:{SHUFFLE_SEED}:"), F.col("doc_id").cast("string"))
    )
    # module attr read at call time so tests can exercise the
    # shard-count-invariance contract by monkeypatching the bits
    import freki_spark.functions.corpus_prep as _self

    bits = _self.SHUFFLE_SHARD_BITS
    d = d.select(
        "doc_id",
        key.alias("shuffle_key"),
        F.shiftright(key, 32 - bits).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    d = d.withColumn("_intra", F.row_number().over(w) - 1)
    counts = d.groupBy("shard").agg(F.count("*").alias("_n"))
    wb = Window.orderBy("shard")  # SHUFFLE_SHARDS rows — driver-tiny
    bases = counts.withColumn("_base", F.sum("_n").over(wb) - F.col("_n")).drop("_n")
    return (
        d.join(F.broadcast(bases), "shard")
        .select(
            "doc_id",
            "shuffle_key",
            "shard",
            (F.col("_base") + F.col("_intra")).alias("pos"),
        )
    )


_SHUF_KEY = DUCK_MD5I32.format(
    x=f"'shuffle:{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)"
)

# high-bit range shards mean ORDER BY (shuffle_key, doc_id) alone
# defines pos — the oracle states the op's REAL contract (global
# seeded-hash order), independent of any shard count
SQL_SHUFFLE_DETERMINISTIC = f"""
WITH k AS (
  SELECT doc_id, {_SHUF_KEY} AS shuffle_key,
         CAST({_SHUF_KEY} >> {32 - SHUFFLE_SHARD_BITS} AS INT) AS shard
  FROM documents
)
SELECT doc_id, shuffle_key, shard,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
         AS pos
FROM k
"""


# --------------------------------------------------------------------------
# mixture_sample — language-rebalancing sampler.  Training mixtures
# want per-language targets, not the raw crawl distribution (the crawl
# is English-heavy).  This op downsamples every language to the size
# of the SMALLEST language: doc kept iff
# md5(seed, doc_id) % n_lang < target, where n_lang is the language's
# corpus count and target = min over languages.  The rule is
# deterministic (resume/retry-stable, same doc always decided the same
# way) and unbiased per language.
#
# Scale shape (100 TB): the language histogram is a tiny partial-agg'd
# groupBy (≤ #languages rows shuffle); histogram + its 1-row min both
# broadcast back, so the corpus side is a single narrow filter pass —
# the corpus itself never shuffles.
# --------------------------------------------------------------------------

MIX_SEED = "mix:7:"


def mixture_sample(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    target = counts.agg(F.min("n_lang").alias("target"))
    key = md5i32(F.concat(F.lit(MIX_SEED), F.col("doc_id").cast("string")))
    return (
        d.join(F.broadcast(counts), "lang")
        .join(F.broadcast(target))  # 1-row cross join
        .withColumn("bucket", F.pmod(key, F.col("n_lang")))
        .filter(F.col("bucket") < F.col("target"))
        .select("doc_id", "lang", "bucket")
    )


_MIX_KEY = DUCK_MD5I32.format(x=f"'{MIX_SEED}' || CAST(doc_id AS VARCHAR)")

SQL_MIXTURE_SAMPLE = f"""
WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
t AS (SELECT min(n_lang) AS target FROM c)
SELECT doc_id, lang, CAST({_MIX_KEY} % n_lang AS BIGINT) AS bucket
FROM documents JOIN c USING (lang) CROSS JOIN t
WHERE {_MIX_KEY} % n_lang < target
"""


# --------------------------------------------------------------------------
# temperature_sample — temperature-based mixture resampling WITH
# repetition (the mT5/PaLM data-mixing rule, Xue et al. 2021 §3.1):
# language l is sampled proportionally to (n_l/N)^alpha with alpha<1,
# which UPsamples low-resource languages (docs repeat, n_repeats > 1)
# and DOWNsamples the head (some docs get n_repeats = 0 and drop) while
# keeping the total budget ~N.  alpha is fixed at 1/2 because sqrt is
# the one power IEEE 754 rounds correctly — so the per-language weight
# w_l = floor(sqrt(n_l * 2^30)) is bit-identical in Spark and DuckDB,
# and everything downstream (targets, base repeats, fractional-repeat
# election) is pure bigint math:
#     target_l   = (N * w_l) div (sum of w)
#     n_repeats  = target_l div n_l  +  [md5(seed,doc) % n_l < target_l % n_l]
# The hash election is deterministic: the same doc always gets the same
# repeat count (resume/retry/backfill-stable), which rand() cannot do.
#
# Scale shape (100 TB): the language histogram is a tiny partial-agg'd
# groupBy; weights/targets broadcast back, so the corpus side is one
# narrow map — the corpus never shuffles (plan-audited, like
# mixture_sample).  Bigint bound: N*w_l < 2^63 holds to N ~ 2^31 docs
# at SCALE=2^30; at 10^12 docs drop SCALE to 2^4 (relative weight error
# < 1e-7) or widen the one target computation to decimal(38,0).
# --------------------------------------------------------------------------

TEMP_SEED = "temp:11:"
TEMP_SCALE = 1 << 30  # w = floor(sqrt(n * SCALE)): exact while n*SCALE < 2^53


def temperature_sample(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    hist = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    w = hist.withColumn(
        "w",
        F.floor(F.sqrt((F.col("n_lang") * F.lit(TEMP_SCALE)).cast("double"))).cast(
            "bigint"
        ),
    )
    tot = w.agg(
        F.sum("n_lang").alias("n_total"), F.sum("w").alias("w_total")
    )
    plan = (
        w.join(F.broadcast(tot))  # 1-row cross join
        .withColumn("target", F.expr("(n_total * w) div w_total"))
        .select("lang", "n_lang", "target")
    )
    key = md5i32(F.concat(F.lit(TEMP_SEED), F.col("doc_id").cast("string")))
    n_rep = F.expr("target div n_lang") + F.when(
        key % F.col("n_lang") < F.col("target") % F.col("n_lang"), 1
    ).otherwise(0)
    return (
        d.join(F.broadcast(plan), "lang")
        .withColumn("n_repeats", n_rep.cast("int"))
        .filter(F.col("n_repeats") > 0)
        .select("doc_id", "lang", "n_repeats")
    )


_TEMP_KEY = DUCK_MD5I32.format(x=f"'{TEMP_SEED}' || CAST(doc_id AS VARCHAR)")

SQL_TEMPERATURE_SAMPLE = f"""
WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
w AS (SELECT lang, n_lang,
             CAST(floor(sqrt(CAST(n_lang * {TEMP_SCALE} AS DOUBLE))) AS BIGINT) AS w
      FROM c),
t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
             CAST(sum(w) AS BIGINT) AS w_total FROM w),
plan AS (SELECT lang, n_lang, (n_total * w) // w_total AS target
         FROM w CROSS JOIN t),
rep AS (
  SELECT doc_id, lang,
         CAST(target // n_lang
              + CASE WHEN {_TEMP_KEY} % n_lang < target % n_lang
                     THEN 1 ELSE 0 END AS INT) AS n_repeats
  FROM documents JOIN plan USING (lang)
)
SELECT doc_id, lang, n_repeats FROM rep WHERE n_repeats > 0
"""


# --------------------------------------------------------------------------
# shard_manifest — the integrity manifest shipped beside a sharded
# training dataset (the WebDataset / MosaicML-StreamingDataset index
# pattern): per shard, the document count, token count, doc_id range,
# and an ORDER-INDEPENDENT content digest = sum of per-doc md5-derived
# 32-bit hashes.  A dataloader verifies a shard by re-summing what it
# read; a writer retry / a different task order / a recompute all
# produce the same digest because addition commutes — which is why the
# digest is a sum and not a hash-of-concatenation (order-dependent,
# not partial-aggregable).  Shard assignment is the deterministic md5
# bucket, so the manifest is reproducible from the corpus alone.
#
# Scale shape (100 TB): every aggregate here (count, sum, min, max) is
# partial-aggregable with constant-size state, so the single Exchange
# carries ~tasks × N_SHARDS pre-combined rows (plan-audited
# partial_sum).  Bigint bound: 32-bit digest terms sum exactly to
# ~2^31 docs per shard under Spark's ANSI overflow check; past that,
# widen the one sum to decimal(38,0) (DuckDB's sum already widens to
# hugeint) and publish the digest mod 2^60 — same relation, wider
# accumulator.
# --------------------------------------------------------------------------

SHARD_SEED = "shardman:3:"
N_SHARDS = 8


def shard_manifest(spark, sf_dir):
    d = _docs(spark, sf_dir)
    tk = toks(F.col("text"))
    rows = d.select(
        F.pmod(
            md5i32(F.concat(F.lit(SHARD_SEED), F.col("doc_id").cast("string"))),
            F.lit(N_SHARDS),
        ).alias("shard"),
        "doc_id",
        F.size(tk).cast("bigint").alias("n_tok"),
        # content hash binds doc_id so identical texts in different
        # docs still contribute distinct digest terms
        md5i32(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
               ).alias("h"),
    )
    return (
        rows.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("doc_min"),
            F.max("doc_id").alias("doc_max"),
            F.sum("h").alias("digest"),
        )
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_docs", "n_tokens", "doc_min", "doc_max", "digest",
        )
    )


_SHARDMAN_KEY = DUCK_MD5I32.format(x=f"'{SHARD_SEED}' || CAST(doc_id AS VARCHAR)")
_SHARDMAN_H = DUCK_MD5I32.format(x="CAST(doc_id AS VARCHAR) || ':' || text")

SQL_SHARD_MANIFEST = f"""
WITH rows_ AS (
  SELECT CAST({_SHARDMAN_KEY} % {N_SHARDS} AS INT) AS shard,
         doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         {_SHARDMAN_H} AS h
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS doc_min, max(doc_id) AS doc_max,
       CAST(sum(h) AS BIGINT) AS digest
FROM rows_ GROUP BY shard
"""


# --------------------------------------------------------------------------
# text_normalize — Unicode + whitespace normalization, the first step
# of every web-corpus pipeline: NFC composition, NBSP → space,
# zero-width-space removal, whitespace collapse, trim.  The driver
# corpus is ASCII, so a deterministic "dirty" variant is derived first
# (combining acute after ' a ' tokens, NBSP+ZWSP around ' row ') — the
# normalization mechanism is what is verified cross-engine, exactly
# like pii_scrub synthesizes its PII.
#
# NFC runs in an Arrow-batched pandas UDF (Spark has no built-in
# Unicode normalizer; DuckDB's nfc_normalize is the oracle — both
# implement UAX#15 so the composed bytes agree).  Everything before
# and after the UDF is JVM-side string work.
#
# Scale shape (100 TB): one narrow pass, zero Exchange; the only
# Python is the Arrow-batched NFC map (columnar transfer, no per-row
# serialization) — the unavoidable slice, kept minimal.
# --------------------------------------------------------------------------

NBSP = "\u00a0"
ZWSP = "\u200b"
COMB_ACUTE = "\u0301"


def _dirty_text(col):
    d = F.replace(col, F.lit(" a "), F.lit(f" a{COMB_ACUTE} "))
    return F.replace(d, F.lit(" row "), F.lit(f"{NBSP}row{ZWSP} "))


def text_normalize(spark, sf_dir):
    import pandas as pd  # noqa: F401 — signature type only
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    d = _docs(spark, sf_dir)
    # materialize the UDF output in its own projection: python UDF
    # expressions referenced from multiple output columns otherwise
    # plan as TWO ArrowEvalPython stages (the NFC map would run twice
    # per row — explain_audit pins n_arrow == 1)
    stage = d.select(
        "doc_id", _dirty_text(F.col("text")).alias("dirty")
    ).withColumn("comp", nfc(F.col("dirty")))
    clean = F.trim(
        F.regexp_replace(
            F.replace(
                F.replace(F.col("comp"), F.lit(NBSP), F.lit(" ")),
                F.lit(ZWSP),
                F.lit(""),
            ),
            " +",
            " ",
        )
    )
    return stage.select(
        "doc_id",
        F.length("dirty").cast("int").alias("n_chars_dirty"),
        F.length(clean).cast("int").alias("n_chars_clean"),
        clean.alias("text_clean"),
    )


SQL_TEXT_NORMALIZE = """
WITH dirty AS (
  SELECT doc_id,
         replace(replace(text, ' a ', ' a' || chr(769) || ' '),
                 ' row ', chr(160) || 'row' || chr(8203) || ' ') AS dirty
  FROM documents
),
clean AS (
  SELECT doc_id, dirty,
         trim(regexp_replace(
             replace(replace(nfc_normalize(dirty), chr(160), ' '),
                     chr(8203), ''),
             ' +', ' ', 'g')) AS text_clean
  FROM dirty
)
SELECT doc_id,
       CAST(length(dirty) AS INT) AS n_chars_dirty,
       CAST(length(text_clean) AS INT) AS n_chars_clean,
       text_clean
FROM clean
"""


# --------------------------------------------------------------------------
# dehyphenate — repair line-break hyphenation, the classic PDF/layout
# extraction post-step: when a line ends with "pre-" and the next line
# starts lowercase, the split word is rejoined ("pre-" + "fix" →
# "prefix") and the leftover first token removed from the next line.
# The corpus has no real line breaks, so hyphenated lines are first
# synthesized deterministically (6-token lines; every odd line whose
# last token has ≥4 chars is split at its midpoint) — then the GENERIC
# repair kernel (no knowledge of the synthesis) undoes them.  Because
# the synthesis is constructed to be fully repairable and the corpus
# is single-spaced lowercase, the repaired text equals the original
# text and the oracle states that closed form (the kernel itself is
# additionally pinned by an adversarial pytest against a naive-python
# reference on pathological inputs the closed form never exercises).
#
# Scale shape (100 TB): entirely per-row array expressions — zero
# Exchange, zero Python; a real deployment applies `_dehyph_pieces`
# to the extracted line spans of each document (per-doc arrays, so
# still narrow).
# --------------------------------------------------------------------------

LINE_W = 6
HYPH_MIN_TOKEN = 4  # synthesized split applies to last tokens >= 4 chars


def _last_tok(s):
    return F.element_at(F.split(s, " "), -1)


def _first_tok(s):
    return F.element_at(F.split(s, " "), 1)


def _mrg(hl, n, i):
    """Line i merges into line i+1: ends with a multi-char '-' token
    and the next line starts with a lowercase letter.  The bounds
    check is a CaseWhen guard (lazy branch evaluation) so the
    element_at calls never see an out-of-range index under ANSI."""
    cur = F.element_at(hl, i)
    nxt = F.element_at(hl, i + 1)
    return F.when(
        (i >= F.lit(1)) & (i < n),
        F.endswith(cur, F.lit("-"))
        & (F.length(_last_tok(cur)) >= 2)
        & F.substring(nxt, 1, 1).rlike("^[a-z]$"),
    ).otherwise(F.lit(False))


def _dehyph_pieces(hl, n):
    """Repaired per-line pieces of a hyphenated-lines array `hl` of
    size `n` (generic kernel — used by the operator and unit-tested on
    adversarial inputs).  Order: a line first loses its first token if
    the previous line merged into it, then (independently) absorbs the
    next line's first token if it merges forward."""

    def piece(i):
        cur = F.element_at(hl, i)
        took = _mrg(hl, n, i - 1)  # previous line consumed our first token
        base = F.when(
            took,
            F.when(
                F.size(F.split(cur, " ")) > 1,
                F.substring(cur, F.length(_first_tok(cur)) + 2, F.lit(2147483647)),
            ).otherwise(F.lit("")),
        ).otherwise(cur)
        return F.when(
            _mrg(hl, n, i),
            F.concat(
                F.substring(base, 1, F.length(base) - 1),
                _first_tok(F.element_at(hl, i + 1)),
            ),
        ).otherwise(base)

    # n = 0 guard: sequence(1, 0) is the DESCENDING [1, 0] in Spark, so
    # without this CaseWhen (lazy branch evaluation) an empty lines
    # array would feed out-of-range indices to the element_at calls in
    # piece() and crash under ANSI.  Zero-line documents are a real
    # input class for the generic kernel (extraction can yield none).
    return F.when(
        n >= F.lit(1),
        F.filter(F.transform(F.sequence(F.lit(1), n), piece), lambda p: p != ""),
    ).otherwise(F.array().cast("array<string>"))


def dehyphenate(spark, sf_dir):
    # tokens bound first — the line-chunking lambda slices the token
    # array per line, and an unmaterialized split() there re-splits
    # the whole text per line (O(n^2) per doc, the CLAUDE.md HOF rule)
    d = _docs(spark, sf_dir).select("doc_id", toks(F.col("text")).alias("_tk"))
    tk = F.col("_tk")
    n_lines = F.expr(f"(size(_tk) + {LINE_W - 1}) DIV {LINE_W}")
    raw_lines = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.concat_ws(" ", F.slice(tk, (i - 1) * LINE_W + 1, LINE_W)),
    )
    stage1 = d.select(
        "doc_id", raw_lines.alias("lines"), n_lines.cast("int").alias("n_lines")
    )

    lines, n = F.col("lines"), F.col("n_lines")

    def split_here(i):
        return (
            (i % 2 == 1)
            & (i < n)
            & (F.length(_last_tok(F.element_at(lines, i))) >= HYPH_MIN_TOKEN)
        )

    def hline(i):
        cur = F.element_at(lines, i)
        lt = _last_tok(cur)
        half = F.floor(F.length(lt) / 2).cast("int")
        base = F.when(
            split_here(i),
            F.concat(
                F.substring(cur, 1, F.length(cur) - F.length(lt)),
                F.substring(lt, 1, half),
                F.lit("-"),
            ),
        ).otherwise(cur)

        def from_prev():
            plt = _last_tok(F.element_at(lines, i - 1))
            phalf = F.floor(F.length(plt) / 2).cast("int")
            suf = F.substring(plt, phalf + 1, F.lit(2147483647))
            return F.concat(suf, F.lit(" "), base)

        return F.when((i > F.lit(1)) & split_here(i - 1), from_prev()).otherwise(base)

    stage2 = stage1.select(
        "doc_id",
        "n_lines",
        F.transform(F.sequence(F.lit(1), n), hline).alias("hlines"),
    )
    hl, nh = F.col("hlines"), F.col("n_lines")
    n_repairs = F.size(
        F.filter(F.sequence(F.lit(1), nh - 1), lambda i: _mrg(hl, nh, i))
    )
    return stage2.select(
        "doc_id",
        "n_lines",
        n_repairs.cast("int").alias("n_repairs"),
        F.array_join(_dehyph_pieces(hl, nh), " ").alias("text_out"),
    )


SQL_DEHYPHENATE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l,
         (len(string_split(text, ' ')) + {LINE_W - 1}) // {LINE_W} AS n_lines
  FROM documents
)
SELECT doc_id,
       CAST(n_lines AS INT) AS n_lines,
       CAST(len(list_filter(range(1, n_lines),
            i -> (i % 2) = 1
             AND length(l[CAST(i * {LINE_W} AS INT)]) >= {HYPH_MIN_TOKEN}))
         AS INT) AS n_repairs,
       array_to_string(l, ' ') AS text_out
FROM t
"""


# --------------------------------------------------------------------------
# C4-style line-level filtering (Raffel et al. 2020, §2.2): keep only
# lines that end in terminal punctuation, have >= 5 words, and don't
# mention javascript; drop whole pages with < 3 retained lines or
# containing "lorem ipsum" / "{".  The corpus has no real lines or
# punctuation, so a deterministic line structure is synthesized first
# (jittered-grid slot boundaries giving 3-7-token lines; ~70% get a
# terminal '.'; rare lines get a "javascript" token and rare docs a
# "lorem ipsum" line, so every rule actually fires in the testdata) —
# then the GENERIC rule set runs over the lines with no knowledge of
# the synthesis.
#
# Scale shape (100 TB): entirely per-row array expressions, and every
# slot boundary is CLOSED-FORM (grid point + md5 jitter — no prefix
# sum), so per-doc cost is O(n): no fold that copies an accumulator
# array per step, and the higher-order-function lambdas only touch
# bound row columns (tk) and O(1) jitter hashes — never an
# unmaterialized subtree that interpreted HOF eval would recompute
# per element.  Rules are narrow string predicates, zero Exchange,
# zero Python (plan-audited).
# --------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3
C4_GRID = 5  # slot i ends near 5*i; widths land in [3, 7]
C4_JITTER_MOD = 3  # boundary jitter in {0, 1, 2}
C4_PUNCT_DEN = 10
C4_PUNCT_LT = 7  # ~70% of lines end with '.'
C4_JS_DEN = 37  # ~1/37 lines get a 'javascript' token
C4_LOREM_DEN = 29  # ~1/29 docs get a 'lorem ipsum.' line


def _c4_lines(doc_id, tk):
    """Synthesized line array over a BOUND token-array column `tk`
    (callers must materialize it — passing a raw split() expression
    here would be re-evaluated per element by interpreted HOF eval):
    slot i spans tokens [grid(i-1) + jitter(i-1) + 1, grid(i) +
    jitter(i)] — contiguous, non-overlapping, widths in
    [C4_GRID - C4_JITTER_MOD + 1, C4_GRID + C4_JITTER_MOD - 1] — with
    an optional injected 'javascript' token and an optional terminal
    '.', all O(1) closed-form functions of (doc_id, i) mirrored in
    the oracle.  Slots starting past the last token are dropped, the
    final line is clipped."""
    n = F.size(tk)
    slots = (F.ceil(n / F.lit(C4_GRID)) + 1).cast("int")
    ds = doc_id.cast("string")

    def h(tag, i):
        return md5i32(F.concat(ds, F.lit(tag), i.cast("string")))

    def jit(i):
        return F.when(i == 0, F.lit(0).cast("bigint")).otherwise(
            h("/", i) % C4_JITTER_MOD
        )

    def start(i):
        return F.lit(C4_GRID).cast("bigint") * (i - 1) + jit(i - 1) + 1

    def line(i):
        st = start(i)
        en = F.least(F.lit(C4_GRID).cast("bigint") * i + jit(i), n.cast("bigint"))
        base = F.concat_ws(
            " ", F.slice(tk, st.cast("int"), (en - st + 1).cast("int"))
        )
        js = F.when(
            h("j", i) % C4_JS_DEN == 0, F.concat(base, F.lit(" javascript"))
        ).otherwise(base)
        return F.when(
            h(".", i) % C4_PUNCT_DEN < C4_PUNCT_LT, F.concat(js, F.lit("."))
        ).otherwise(js)

    valid = F.filter(F.sequence(F.lit(1), slots), lambda i: start(i) <= n)
    return F.transform(valid, line)


def c4_line_filter(spark, sf_dir):
    """C4 line + page filtering over the synthesized line structure
    (see module comment above): per doc, the line count, retained-line
    count, page keep/drop decision, and the retained text."""
    d = _docs(spark, sf_dir).select("doc_id", toks(F.col("text")).alias("tk"))
    lines = _c4_lines(F.col("doc_id"), F.col("tk"))
    lorem = (
        md5i32(F.concat(F.lit("lorem/"), F.col("doc_id").cast("string")))
        % C4_LOREM_DEN
        == 0
    )
    all_lines = F.when(
        lorem, F.concat(lines, F.array(F.lit("lorem ipsum.")))
    ).otherwise(lines)

    def keep_line(s):
        return (
            (F.size(F.split(s, " ")) >= C4_MIN_LINE_WORDS)
            & s.endswith(".")
            & ~s.contains("javascript")
        )

    kept = F.filter(all_lines, keep_line)
    has_bad = F.exists(
        all_lines, lambda s: s.contains("lorem ipsum") | s.contains("{")
    )
    n_kept = F.size(kept)
    return d.select(
        "doc_id",
        F.size(all_lines).alias("n_lines"),
        n_kept.alias("n_kept"),
        ((n_kept >= C4_MIN_KEPT_LINES) & ~has_bad).cast("int").alias("keep"),
        F.concat_ws(" | ", kept).alias("text_kept"),
    )


_C4_H_JIT = DUCK_MD5I32.format(x="doc_id || '/' || i")
_C4_H_JIT_PREV = DUCK_MD5I32.format(x="doc_id || '/' || (i - 1)")
_C4_H_J = DUCK_MD5I32.format(x="doc_id || 'j' || i")
_C4_H_P = DUCK_MD5I32.format(x="doc_id || '.' || i")
_C4_H_L = DUCK_MD5I32.format(x="'lorem/' || doc_id")

SQL_C4_LINE_FILTER = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
slots AS (
  SELECT doc_id, tk, len(tk) AS n,
         unnest(range(1, CAST(ceil(len(tk) / {C4_GRID}.0) AS BIGINT) + 2)) AS i
  FROM d
),
bounds AS (
  SELECT *,
         {C4_GRID} * (i - 1)
           + (CASE WHEN i = 1 THEN 0
                   ELSE {_C4_H_JIT_PREV} % {C4_JITTER_MOD} END) + 1 AS st,
         least({C4_GRID} * i + ({_C4_H_JIT} % {C4_JITTER_MOD}), n) AS en
  FROM slots
),
base AS (
  SELECT doc_id, i, array_to_string(tk[st:en], ' ') AS s
  FROM bounds WHERE st <= n
),
lines1 AS (
  SELECT doc_id, i,
         CASE WHEN {_C4_H_J} % {C4_JS_DEN} = 0
              THEN s || ' javascript' ELSE s END AS s2
  FROM base
),
lines2 AS (
  SELECT doc_id, i,
         CASE WHEN {_C4_H_P} % {C4_PUNCT_DEN} < {C4_PUNCT_LT}
              THEN s2 || '.' ELSE s2 END AS line
  FROM lines1
),
lines AS (
  SELECT doc_id, i, line FROM lines2
  UNION ALL
  SELECT doc_id, 1000000 AS i, 'lorem ipsum.' AS line FROM documents
  WHERE {_C4_H_L} % {C4_LOREM_DEN} = 0
),
flagged AS (
  SELECT *,
         (len(string_split(line, ' ')) >= {C4_MIN_LINE_WORDS}
          AND line LIKE '%.' AND line NOT LIKE '%javascript%') AS keep_line
  FROM lines
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_lines,
         CAST(sum(CASE WHEN keep_line THEN 1 ELSE 0 END) AS INT) AS n_kept,
         coalesce(string_agg(line, ' | ' ORDER BY i) FILTER (WHERE keep_line),
                  '') AS text_kept,
         max(CASE WHEN line LIKE '%lorem ipsum%' OR line LIKE '%{{%'
                  THEN 1 ELSE 0 END) AS bad
  FROM flagged GROUP BY doc_id
)
SELECT doc_id, n_lines, n_kept,
       CASE WHEN n_kept >= {C4_MIN_KEPT_LINES} AND bad = 0
            THEN 1 ELSE 0 END AS keep,
       text_kept
FROM agg
"""


# --------------------------------------------------------------------------
# corpus_stats — pipeline telemetry rollup (the monitoring relation a
# 100 TB ingest job publishes every run: how many docs, how many
# bytes, what size distribution, per language and overall).  Length
# histogram buckets are log2 via integer bit-length
# (length(bin(n_chars))) — integer-exact in both engines, no
# floor(log2(x)) float boundary risk.
#
# Scale shape: ONE partial-agg'd ROLLUP over one scan — every level
# ((lang, bucket), (lang), ()) partial-aggregates map-side and the
# single Exchange carries pre-combined group rows (langs × ~40
# buckets).  No window, no join, no second scan.
# --------------------------------------------------------------------------


def corpus_stats(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "lang",
        # bit_length bucket; 0-char docs pinned to bucket 0 explicitly
        # — bin(0) = '0' has LENGTH 1, which would silently conflate
        # empty docs with 1-char docs (and diverge from python's
        # (0).bit_length() == 0 that the pytest recomputes)
        F.when(F.col("n_chars") == 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("n_chars"))))
        .cast("int")
        .alias("len_bucket"),
        "n_chars",
    )
    r = d.rollup("lang", "len_bucket").agg(
        (F.grouping("lang") * 2 + F.grouping("len_bucket"))
        .cast("int")
        .alias("lvl"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return r.select(
        F.coalesce("lang", F.lit("(all)")).alias("lang"),
        F.coalesce("len_bucket", F.lit(-1)).alias("len_bucket"),
        "lvl",
        "n_docs",
        "sum_chars",
        "min_chars",
        "max_chars",
    )


SQL_CORPUS_STATS = """
SELECT coalesce(lang, '(all)') AS lang,
       coalesce(len_bucket, -1) AS len_bucket,
       CAST(GROUPING(lang) * 2 + GROUPING(len_bucket) AS INT) AS lvl,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM (
  SELECT lang,
         CAST(CASE WHEN n_chars = 0 THEN 0
                   ELSE length(bin(n_chars)) END AS INT) AS len_bucket,
         n_chars
  FROM documents
)
GROUP BY ROLLUP (lang, len_bucket)
"""


# --------------------------------------------------------------------------
# line_dedup — WITHIN-document repetition removal (the Rae et al. 2021
# Gopher / RefinedWeb "repetition removal" cut: strip repeated
# boilerplate lines — nav bars, cookie banners, copyright footers —
# and drop pages whose repeated-line fraction exceeds a threshold).
# Corpus-wide paragraph dedup is `paragraph_dedup`; this op is its
# per-document prefix stage and needs NO shuffle at all.
#
# The corpus has no real line structure, so one is synthesized:
# fixed-width 5-token lines, a per-doc copyright footer injected after
# every fe-th line (fe = 3 + doc_id % 5, so the repeated-line fraction
# straddles the 20% drop threshold and both verdicts occur), and for
# doc_id % 11 == 0 the first content line repeated at the end (a
# non-footer dup).  The GENERIC mechanism — first-occurrence line
# dedup + fraction gate — runs with no knowledge of the synthesis.
#
# Scale shape (100 TB): one narrow pass, zero Exchange.  The
# first-occurrence dedup is `array_distinct` (hash-set, linear in
# lines — NOT an O(n^2) per-line array_position probe), and the HOF
# lambdas touch only bound columns (tk, fe, footer) so interpreted
# HOF eval stays O(1) per element.
# --------------------------------------------------------------------------

LINEDUP_W = 5
LINEDUP_MAX_REMOVED_PCT = 20  # drop page if > 20% of its lines repeat


def line_dedup(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id",
        toks(F.col("text")).alias("tk"),
        (F.lit(3) + F.col("doc_id") % 5).cast("int").alias("fe"),
        F.concat(
            F.lit("copyright site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(" all rights reserved"),
        ).alias("footer"),
    )
    n0 = F.ceil(F.size("tk") / F.lit(LINEDUP_W)).cast("int")

    def line(i):
        return F.concat_ws(
            " ",
            F.slice(
                F.col("tk"),
                ((i - 1) * LINEDUP_W + 1).cast("int"),
                LINEDUP_W,
            ),
        )

    arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n0),
            lambda i: F.when(
                i % F.col("fe") == 0, F.array(line(i), F.col("footer"))
            ).otherwise(F.array(line(i))),
        )
    )
    arr = F.when(
        F.col("doc_id") % 11 == 0, F.concat(arr, F.array(line(F.lit(1))))
    ).otherwise(arr)
    d = d.select("doc_id", arr.alias("all_lines"))
    kept = F.array_distinct("all_lines")
    n_lines = F.size("all_lines")
    n_removed = n_lines - F.size(kept)
    return d.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_removed.alias("n_removed"),
        (n_removed * 100 <= F.lit(LINEDUP_MAX_REMOVED_PCT) * n_lines)
        .cast("int")
        .alias("keep"),
        F.concat_ws(" | ", kept).alias("text_out"),
    )


SQL_LINE_DEDUP = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         3 + doc_id % 5 AS fe,
         'copyright site' || CAST(doc_id % 7 AS VARCHAR)
           || ' all rights reserved' AS footer
  FROM documents
),
li AS (
  SELECT doc_id, fe, footer, tk, len(tk) AS n,
         unnest(range(1,
           CAST(ceil(len(tk) / {LINEDUP_W}.0) AS BIGINT) + 1)) AS i
  FROM d
),
lines0 AS (
  SELECT doc_id, fe, footer, i,
         array_to_string(
           tk[CAST((i - 1) * {LINEDUP_W} + 1 AS INT)
              : CAST(least(i * {LINEDUP_W}, n) AS INT)], ' ') AS line
  FROM li
),
un AS (
  SELECT doc_id, i * 2 AS ord, line FROM lines0
  UNION ALL
  SELECT doc_id, i * 2 + 1 AS ord, footer AS line
  FROM lines0 WHERE i % fe = 0
  UNION ALL
  SELECT doc_id, 2000000001 AS ord, line
  FROM lines0 WHERE i = 1 AND doc_id % 11 = 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, line ORDER BY ord) AS rn
  FROM un
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_lines,
         CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT)
           AS n_removed,
         coalesce(string_agg(line, ' | ' ORDER BY ord) FILTER (WHERE rn = 1),
                  '') AS text_out
  FROM ranked GROUP BY doc_id
)
SELECT doc_id, n_lines, n_removed,
       CASE WHEN n_removed * 100 <= {LINEDUP_MAX_REMOVED_PCT} * n_lines
            THEN 1 ELSE 0 END AS keep,
       text_out
FROM agg
"""


# --------------------------------------------------------------------------
# dsir_select — Data Selection with Importance Resampling (Xie et al.
# 2023): score every document by the log-likelihood ratio of its hashed
# n-gram features under a target-domain model vs the raw-corpus model,
# and keep documents whose features look target-like.  The target here
# is a source stratum of the corpus itself (in production: Wikipedia /
# books vs CommonCrawl); the mechanism — two hashed-feature count
# models, a broadcast λ table, a narrow per-doc weighted sum — is the
# real DSIR pipeline shape.
#
# Scale shape (100 TB): feature extraction is a flat-map; both count
# models are partial-agg groupBys onto a FIXED-width key space (the
# hash-bucket table has exactly DSIR_BUCKETS rows no matter the corpus
# size), so the λ table always broadcasts; scoring is one broadcast
# join + per-doc partial agg.  No windows, no global sorts.
#
# Cross-engine determinism: λ(f) is floored to a µ-nat bigint per
# FEATURE before any per-doc summation (sums stay integer and
# order-independent).  The four ln() calls run on identical doubles in
# a fixed association — bit-identical per the tfidf_topk precedent.
# --------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_SCALE = 1_000_000
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")


def dsir_select(spark, sf_dir):
    d = _docs(spark, sf_dir)
    tgt = F.col("source").isin(*DSIR_TARGET_SOURCES)
    # hashed bigram features; tokens bound first (CLAUDE.md HOF rule)
    docs = d.select("doc_id", tgt.cast("int").alias("is_tgt"),
                    toks(F.col("text")).alias("_tk"))
    occ = docs.select(
        "doc_id", "is_tgt", F.explode(bigrams(F.col("_tk"))).alias("bg")
    ).select(
        "doc_id", "is_tgt",
        F.pmod(md5i32(F.col("bg")), F.lit(DSIR_BUCKETS)).alias("f"),
    )
    counts = occ.groupBy("f").agg(
        F.sum("is_tgt").alias("c_t"),
        F.count("*").alias("c_r"),
    )
    # totals are exactly the column sums of the fixed 1024-row counts
    # table — never a second corpus-sized scan
    totals = counts.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_r").alias("n_r"),
    )
    # λ(f) = ln p_tgt(f) - ln p_raw(f), add-one smoothed, fixed
    # association: ((ln(c_t+1) + ln(n_r+B)) - ln(c_r+1)) - ln(n_t+B)
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "f",
        F.floor(
            (
                (
                    (F.log(F.col("c_t") + 1.0)
                     + F.log(F.col("n_r") + float(DSIR_BUCKETS)))
                    - F.log(F.col("c_r") + 1.0)
                )
                - F.log(F.col("n_t") + float(DSIR_BUCKETS))
            )
            * DSIR_SCALE
        )
        .cast("bigint")
        .alias("lam"),
    )
    scored = (
        occ.join(F.broadcast(lam), "f")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"), F.sum("lam").alias("weight"))
    )
    return scored.select(
        "doc_id", "n_feats", "weight",
        (F.col("weight") > 0).cast("int").alias("selected"),
    )


_DSIR_TGT_IN = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)

SQL_DSIR_SELECT = f"""
WITH t AS (
  SELECT doc_id, CAST(source IN ({_DSIR_TGT_IN}) AS INT) AS is_tgt,
         string_split(text, ' ') AS l
  FROM documents
),
occ AS (
  SELECT doc_id, is_tgt,
         {DUCK_MD5I32.format(x="bg")} % {DSIR_BUCKETS} AS f
  FROM (SELECT doc_id, is_tgt, unnest({duck_bigrams("l")}) AS bg FROM t)
),
counts AS (SELECT f, CAST(sum(is_tgt) AS BIGINT) AS c_t,
                  CAST(count(*) AS BIGINT) AS c_r
           FROM occ GROUP BY f),
totals AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
                  CAST(sum(c_r) AS BIGINT) AS n_r
           FROM counts),
lam AS (
  SELECT f,
         CAST(floor((((ln(c_t + 1.0) + ln(n_r + {DSIR_BUCKETS}.0))
                      - ln(c_r + 1.0)) - ln(n_t + {DSIR_BUCKETS}.0))
                    * {DSIR_SCALE}) AS BIGINT) AS lam
  FROM counts CROSS JOIN totals
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum(lam) AS BIGINT) AS weight,
       CAST(sum(lam) > 0 AS INT) AS selected
FROM occ JOIN lam USING (f)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# domain_stats — per-domain corpus rollup (the FineWeb/RefinedWeb
# domain-filtering stage: doc counts, volume share, mean quality per
# registered domain, ranked).  The driver corpus is synthetic (no URL
# column), so the op first derives a deterministic URL per row from
# (source, doc_id) — what is verified cross-engine is the host-parsing
# + rollup mechanism itself (same convention as pii_scrub).
#
# Scale shape (100 TB): URL→domain is a narrow regexp; the rollup is
# one partial-agg groupBy on domain; the share denominator is a 1-row
# broadcast aggregate; the rank window runs over the domain table
# (bounded by the number of registered domains, not corpus size).
# --------------------------------------------------------------------------

DOMAIN_RE = r"^https?://(?:[a-z0-9-]+\.)*?([a-z0-9-]+\.(?:com|org|net))/"


def _domain_url(path=None):
    """THE synthetic crawl-URL formula (shared by domain_stats,
    crawl_frontier, and robots_filter; mirrored inline in the
    oracles).  ``path`` overrides the default ``/page/<doc_id>``
    path column."""
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    if path is None:
        path = F.concat(F.lit("/page/"), F.col("doc_id").cast("string"))
    return F.concat(
        F.lit("http://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(F.lit("cdn.")),
        F.col("source"), F.lit("-site."), tld,
        path,
    )


def domain_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    dom = F.regexp_extract(_domain_url(), DOMAIN_RE, 1)
    per = d.select(dom.alias("domain"), "n_chars")
    agg = per.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    # the share denominator is the column sum of the domain-bounded
    # rollup — never a second corpus scan re-running the URL regex
    total = agg.agg(F.sum("n_docs").cast("double").alias("n_total"))
    agg = agg.crossJoin(F.broadcast(total)).select(
        "domain", "n_docs", "sum_chars",
        F.floor(F.col("n_docs") * 1_000_000 / F.col("n_total"))
        .cast("bigint")
        .alias("share_ppm"),
        F.expr("sum_chars div n_docs").alias("mean_chars"),
    )
    w = Window.orderBy(F.desc("n_docs"), F.asc("domain"))
    return agg.withColumn("rank", F.row_number().over(w).cast("int"))


SQL_DOMAIN_STATS = f"""
WITH u AS (
  SELECT 'http://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END
           || source || '-site.'
           || ['com', 'org', 'net'][CAST(doc_id % 3 + 1 AS INT)]
           || '/page/' || CAST(doc_id AS VARCHAR) AS url,
         n_chars
  FROM documents
),
per AS (SELECT regexp_extract(url, '{DOMAIN_RE}', 1) AS domain, n_chars FROM u),
agg AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM per GROUP BY domain
)
SELECT domain, n_docs, sum_chars,
       CAST(floor(n_docs * 1000000 / (SELECT sum(n_docs) FROM agg)) AS BIGINT)
         AS share_ppm,
       sum_chars // n_docs AS mean_chars,
       CAST(row_number() OVER (ORDER BY n_docs DESC, domain) AS INT) AS rank
FROM agg
"""


# --------------------------------------------------------------------------
# crawl_frontier — politeness-capped per-domain fetch scheduling (the
# crawler-side counterpart of domain_stats): rank every frontier URL by
# a deterministic pagerank-ish priority, keep at most FRONTIER_CAP per
# registered domain per fetch cycle.  URLs are synthesised from
# (source, doc_id) with the same formula as domain_stats (the corpus
# carries no URL column); the verified mechanism is host-parse +
# per-domain ranked cap.
#
# Scale shape (100 TB frontier): the window partitions by domain — at
# web scale that is millions of domains, so parallelism is wide, and
# the rank<=K predicate triggers Spark's WindowGroupLimit pushdown:
# each map task pre-prunes to its local top-K per domain BEFORE the
# exchange, so the shuffle carries O(K * domains) rows, not the whole
# frontier.  A single mega-domain (crawler trap) is bounded by the same
# pushdown — every upstream task forwards at most K of its rows.
# --------------------------------------------------------------------------

FRONTIER_CAP = 4


def crawl_frontier(spark, sf_dir):
    d = _docs(spark, sf_dir)
    url = _domain_url()
    # stands in for the harvest-rate / pagerank prior a real scheduler
    # would join in; md5 keeps it deterministic and skew-free
    pri = md5i32(F.concat(F.lit("pri/"), F.col("doc_id").cast("string")))
    per = d.select(
        F.regexp_extract(url, DOMAIN_RE, 1).alias("domain"),
        url.alias("url"),
        pri.alias("priority"),
    )
    w = Window.partitionBy("domain").orderBy(F.desc("priority"), F.asc("url"))
    return per.withColumn(
        "fetch_rank", F.row_number().over(w).cast("int")
    ).where(F.col("fetch_rank") <= FRONTIER_CAP)


SQL_CRAWL_FRONTIER = f"""
WITH u AS (
  SELECT 'http://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END
           || source || '-site.'
           || ['com', 'org', 'net'][CAST(doc_id % 3 + 1 AS INT)]
           || '/page/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id
  FROM documents
),
per AS (
  SELECT regexp_extract(url, '{DOMAIN_RE}', 1) AS domain, url,
         {DUCK_MD5I32.format(x="'pri/' || CAST(doc_id AS VARCHAR)")} AS priority
  FROM u
)
SELECT domain, url, priority, CAST(fetch_rank AS INT) AS fetch_rank
FROM (
  SELECT *, row_number()
              OVER (PARTITION BY domain ORDER BY priority DESC, url)
            AS fetch_rank
  FROM per
)
WHERE fetch_rank <= {FRONTIER_CAP}
"""


# --------------------------------------------------------------------------
# robots_filter — robots.txt disallow-rule filtering over the frontier
# (the other half of crawl politeness next to crawl_frontier's
# per-domain cap): parse host + path out of each URL, join the
# per-domain ruleset, drop URLs whose path matches a disallowed
# prefix.  Rules are synthesized deterministically per domain (every
# domain disallows /private/; half — by domain hash — also disallow
# /archive/), and URL paths rotate through /page/, /private/,
# /archive/ so every rule fires; the verified mechanism — URL parse,
# domain-dimension join, first-match prefix rule — has no knowledge
# of the synthesis.
#
# Scale shape (100 TB frontier): the ruleset is domain-cardinality (a
# fetched robots dimension in production — here derived via a
# domain-only distinct whose shuffle carries just the domain strings)
# and BROADCASTS; the frontier side is one narrow pass — parse,
# prefix-match, filter — so no frontier row ever shuffles.  The
# prefix match is exists() over the tiny per-domain prefix array
# (real robots files average a handful of rules; pathological
# 1000-rule files stay a per-row loop, never a join blowup).
# --------------------------------------------------------------------------


def robots_filter(spark, sf_dir):
    d = _docs(spark, sf_dir)
    path = F.concat(
        F.element_at(
            F.array(F.lit("/page/"), F.lit("/private/"), F.lit("/archive/")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
        F.col("doc_id").cast("string"),
    )
    url = _domain_url(path)
    per = d.select(
        F.regexp_extract(url, DOMAIN_RE, 1).alias("domain"),
        F.col("doc_id"),
        F.regexp_replace(url, r"^https?://[^/]*", "").alias("path"),
    )
    rules = (
        per.select("domain")
        .distinct()
        .select(
            "domain",
            F.filter(
                F.array(
                    F.lit("/private/"),
                    F.when(
                        md5i32(F.concat(F.lit("rob/"), F.col("domain"))) % 2
                        == 0,
                        F.lit("/archive/"),
                    ),
                ),
                lambda x: x.isNotNull(),
            ).alias("prefixes"),
        )
    )
    joined = per.join(F.broadcast(rules), "domain")
    blocked = F.exists(
        "prefixes", lambda p: F.col("path").startswith(p)
    )
    return joined.select(
        "doc_id",
        "domain",
        "path",
        F.size("prefixes").alias("n_rules"),
        (~blocked).cast("int").alias("allowed"),
    )


# --------------------------------------------------------------------------
# link_graph — web-graph construction from page HTML (the stage that
# feeds pagerank_iter / crawl prioritization / harvest-rate stats):
# each doc becomes an HTML page with nav links (internal) and 1-3
# synthesized external anchors; hrefs are pulled with ONE narrow
# regexp_extract_all (no python, no DOM tree), internal links resolve
# against the page's own registrable domain, and edges aggregate to
# (src_domain, dst_domain, n_links).
#
# Scale shape (100 TB of pages): the parse is a per-row regex — pages
# never shuffle; the explode emits only (src, dst) string pairs
# (~60 B) per anchor, and the edge rollup partial-aggregates map-side
# so the single Exchange carries pre-combined (src, dst) counts.
# Hub pages with 10^4 anchors fan out linearly; hub DOMAINS (everyone
# links to wikipedia) skew the agg key, which AQE skew-split handles —
# the classic alternative (two-level rollup: first by (src, dst,
# shard)) is noted as the dial if a dst domain alone overflows a task.
# The oracle is CLOSED-FORM over (doc_id, source) — it never re-runs
# the regex — so a hash match proves the whole synth → parse →
# resolve → rollup chain end-to-end.
# --------------------------------------------------------------------------

LINK_HREF_RE = r'<a href="([^"]+)"'


def _links_html():
    parts = [
        F.lit(
            '<html><body><nav><a href="/">Home</a> '
            '<a href="/about">About</a></nav><p>'
        ),
        F.col("text"),
    ]
    for j in (1, 2, 3):
        dst = ((F.col("doc_id") + j * 31) % 23).cast("string")
        # label varies by page parity ('ref j' / 'link j') so hub
        # destinations collect up to 6 distinct anchors — anchor_text's
        # top-3 truncation must actually bite on the fixture
        label = F.when(
            F.col("doc_id") % 2 == 0, F.lit(f"ref {j}")
        ).otherwise(F.lit(f"link {j}"))
        link = F.concat(
            F.lit('<a href="http://dst'),
            dst,
            F.lit(f'-hub.com/p/{j}">'),
            label,
            F.lit("</a>"),
        )
        parts.append(
            F.when(F.col("doc_id") % 3 + 1 >= j, link).otherwise(F.lit(""))
        )
    parts.append(F.lit("</p></body></html>"))
    return F.concat(*parts)


def _resolve_href(href, src):
    """THE href→destination-domain rule (shared by link_graph and
    anchor_text so the link graph and the anchor corpus can never
    desync): site-relative paths resolve to the page's own domain,
    absolute URLs to their host."""
    return F.when(href.startswith("/"), src).otherwise(
        F.regexp_extract(href, r"^https?://([^/]+)", 1)
    )


def link_graph(spark, sf_dir):
    d = _docs(spark, sf_dir)
    src = F.regexp_extract(_domain_url(), DOMAIN_RE, 1)
    pages = d.select(
        src.alias("src_domain"),
        F.regexp_extract_all(_links_html(), F.lit(LINK_HREF_RE), 1).alias(
            "hrefs"
        ),
    )
    edges = pages.select(
        "src_domain", F.explode("hrefs").alias("href")
    ).select(
        "src_domain",
        _resolve_href(F.col("href"), F.col("src_domain")).alias("dst_domain"),
    )
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.count("*").alias("n_links")
    )


SQL_LINK_GRAPH = """
WITH pages AS (
  SELECT doc_id,
         source || '-site.'
           || ['com', 'org', 'net'][CAST(doc_id % 3 + 1 AS INT)] AS src
  FROM documents
),
links AS (
  SELECT src, src AS dst FROM pages, UNNEST([1, 2]) t(z)
  UNION ALL
  SELECT src,
         'dst' || CAST((doc_id + j * 31) % 23 AS VARCHAR) || '-hub.com' AS dst
  FROM pages, UNNEST(range(1, CAST(doc_id % 3 + 2 AS BIGINT))) t(j)
)
SELECT src AS src_domain, dst AS dst_domain, count(*) AS n_links
FROM links GROUP BY src, dst
"""


# --------------------------------------------------------------------------
# domain_authority — web-graph degree telemetry and authority flagging
# (the seed-selection / spam-triage relation next to pagerank in every
# crawl stack: SEO farms show up as domains whose link mass arrives
# from few distinct sources or from themselves, authorities as
# domains many independent sources cite).  Built entirely from the
# link_graph relation (single-sourced — the flags can never disagree
# with the graph): per domain, out/in distinct-degree and link mass,
# self-link mass, self-share ppm, and an is_authority flag =
# (in_degree >= AUTH_MIN_SOURCES and self-share < half).
#
# Bigint headroom: per-domain in_links is corpus-grain in the worst
# case (one domain receiving everything), so the self-share ratio
# goes through _ppm_exact rather than a bare *1e6.
#
# Scale shape (10^12 edges): the edge list is checkpointed once (in
# production it IS a stored table; three rollups read it — out, in,
# self), each rollup partial-aggregates map-side to domain grain, and
# the final assembly is two domain-grain joins.  No corpus rescan
# (plan-audited: zero raw scans), no window, no python.
# --------------------------------------------------------------------------

AUTH_MIN_SOURCES = 5


def domain_authority(spark, sf_dir):
    edges = link_graph(spark, sf_dir).localCheckpoint()
    out = edges.groupBy(F.col("src_domain").alias("domain")).agg(
        F.countDistinct("dst_domain").cast("int").alias("out_degree"),
        F.sum("n_links").cast("bigint").alias("out_links"),
    )
    in_ = edges.groupBy(F.col("dst_domain").alias("domain")).agg(
        F.countDistinct("src_domain").cast("int").alias("in_degree"),
        F.sum("n_links").cast("bigint").alias("in_links"),
    )
    self_ = (
        edges.filter(F.col("src_domain") == F.col("dst_domain"))
        .groupBy(F.col("src_domain").alias("domain"))
        .agg(F.sum("n_links").cast("bigint").alias("self_links"))
    )
    j = (
        out.join(in_, "domain", "full_outer")
        .join(self_, "domain", "left")
        .select(
            "domain",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("in_links", F.lit(0)).alias("in_links"),
            F.coalesce("self_links", F.lit(0)).alias("self_links"),
        )
    )
    share = F.expr(
        "CASE WHEN in_links > 0 THEN "
        + _ppm_exact("self_links", "in_links", "div")
        + " ELSE 0 END"
    )
    return j.withColumn("self_share_ppm", share).withColumn(
        "is_authority",
        (
            (F.col("in_degree") >= AUTH_MIN_SOURCES)
            & (F.col("self_share_ppm") < 500_000)
        ).cast("int"),
    )


def _sql_domain_authority() -> str:
    return f"""
WITH lg AS ({SQL_LINK_GRAPH}),
o AS (
  SELECT src_domain AS domain,
         CAST(count(DISTINCT dst_domain) AS INT) AS out_degree,
         CAST(sum(n_links) AS BIGINT) AS out_links
  FROM lg GROUP BY 1
),
i AS (
  SELECT dst_domain AS domain,
         CAST(count(DISTINCT src_domain) AS INT) AS in_degree,
         CAST(sum(n_links) AS BIGINT) AS in_links
  FROM lg GROUP BY 1
),
s AS (
  SELECT src_domain AS domain, CAST(sum(n_links) AS BIGINT) AS self_links
  FROM lg WHERE src_domain = dst_domain GROUP BY 1
),
j AS (
  SELECT coalesce(o.domain, i.domain) AS domain,
         coalesce(out_degree, 0) AS out_degree,
         coalesce(out_links, 0) AS out_links,
         coalesce(in_degree, 0) AS in_degree,
         coalesce(in_links, 0) AS in_links,
         coalesce(s.self_links, 0) AS self_links
  FROM o FULL OUTER JOIN i ON o.domain = i.domain
  LEFT JOIN s ON s.domain = coalesce(o.domain, i.domain)
),
p AS (
  SELECT *, CASE WHEN in_links > 0
                 THEN {_ppm_exact('self_links', 'in_links', '//')}
                 ELSE 0 END AS self_share_ppm
  FROM j
)
SELECT domain, out_degree, out_links, in_degree, in_links, self_links,
       self_share_ppm,
       CASE WHEN in_degree >= {AUTH_MIN_SOURCES}
             AND self_share_ppm < 500000
            THEN 1 ELSE 0 END AS is_authority
FROM p
"""


SQL_DOMAIN_AUTHORITY = _sql_domain_authority()


# --------------------------------------------------------------------------
# zorder_plan — z-order clustering-key assignment (the Delta OPTIMIZE
# ZORDER / Iceberg sort-order maintenance primitive): interleave the
# bits of two cluster dimensions into one Morton key so a range of
# files covers a RECTANGLE of (x, y) space — multi-dimensional data
# skipping for a 10^12-row table.  Dimensions here: x = clamped
# n_chars (size locality), y = hashed (lang, source) (content
# locality).  Both engines compute the interleave from the SAME
# python-generated mask/multiply terms (pure integer math — a bit
# shift IS a multiply — so the expressions cannot desync), and file
# assignment is equal-width binning of the z space.
#
# Scale shape (100 TB): entirely narrow — zero Exchange (plan-
# audited); the actual clustering rewrite would range-partition by
# zval, which this relation is the plan for.
# --------------------------------------------------------------------------

ZORDER_BITS = 16           # per dimension -> 32-bit Morton key
ZORDER_FILES = 256         # equal-width z-space bins
_Z_BIN = (1 << (2 * ZORDER_BITS)) // ZORDER_FILES
_Z_MAX = (1 << ZORDER_BITS) - 1

# (mask, multiplier) per output term: x bit i -> position 2i,
# y bit i -> position 2i + 1
_Z_X_TERMS = [(1 << i, 1 << i) for i in range(ZORDER_BITS)]
_Z_Y_TERMS = [(1 << i, 1 << (i + 1)) for i in range(ZORDER_BITS)]


def _z_interleave_spark(x, y):
    t = [ (x.bitwiseAND(F.lit(m)) * F.lit(s)).cast("bigint")
          for m, s in _Z_X_TERMS ]
    t += [ (y.bitwiseAND(F.lit(m)) * F.lit(s)).cast("bigint")
           for m, s in _Z_Y_TERMS ]
    out = t[0]
    for c in t[1:]:
        out = out + c
    return out


def _z_interleave_duck(x: str, y: str) -> str:
    terms = [f"({x} & {m}) * {s}" for m, s in _Z_X_TERMS]
    terms += [f"({y} & {m}) * {s}" for m, s in _Z_Y_TERMS]
    return "(" + " + ".join(terms) + ")"


def zorder_plan(spark, sf_dir):
    d = _docs(spark, sf_dir)
    x = F.least(F.col("n_chars"), F.lit(_Z_MAX)).cast("bigint")
    y = (
        md5i32(F.concat(F.lit("zy|"), F.col("lang"), F.lit("|"),
                        F.col("source")))
        % (1 << ZORDER_BITS)
    ).cast("bigint")
    b = d.select("doc_id", x.alias("zx"), y.alias("zy"))
    zval = _z_interleave_spark(F.col("zx"), F.col("zy"))
    return b.select(
        "doc_id", "zx", "zy",
        zval.alias("zval"),
        F.floor(zval / F.lit(_Z_BIN)).cast("bigint").alias("file_id"),
    )


_ZY_H = DUCK_MD5I32.format(x="'zy|' || lang || '|' || source")

SQL_ZORDER_PLAN = f"""
WITH b AS (
  SELECT doc_id,
         CAST(least(n_chars, {_Z_MAX}) AS BIGINT) AS zx,
         CAST({_ZY_H} % {1 << ZORDER_BITS} AS BIGINT) AS zy
  FROM documents
),
z AS (SELECT doc_id, zx, zy,
             CAST({_z_interleave_duck("zx", "zy")} AS BIGINT) AS zval
      FROM b)
SELECT doc_id, zx, zy, zval,
       CAST(floor(zval / {_Z_BIN}) AS BIGINT) AS file_id
FROM z
"""


# --------------------------------------------------------------------------
# anchor_text — anchor-text mining over the link graph (the query /
# title signal web pipelines harvest per destination: anchor corpora
# feed retrieval training sets and page-title quality priors).  Each
# page's <a href>inner text</a> pairs are pulled with TWO capture-group
# regexp_extract_all passes over the same HTML (group 1 = href, group
# 2 = anchor), zipped positionally, resolved to destination domains
# exactly like link_graph, and rolled up to the top-3 anchors per
# destination.
#
# Scale shape (100 TB of pages): the parse is per-row regex — pages
# never shuffle; the explode emits only (src, href, anchor) short
# strings; the (dst, anchor) rollup partial-aggregates map-side; the
# ranking window is partitioned by dst_domain (domain-bounded
# cardinality, the same key domain_stats already windows on — NOT the
# corpus grain).  Hub destinations skew the agg key → AQE skew-split,
# same note as link_graph.
# --------------------------------------------------------------------------

ANCHOR_RE = r'<a href="([^"]+)">([^<]+)</a>'
ANCHOR_TOPK = 3


def anchor_text(spark, sf_dir):
    d = _docs(spark, sf_dir)
    src = F.regexp_extract(_domain_url(), DOMAIN_RE, 1)
    # html bound as a column: it feeds TWO extract_all passes below
    # (argument position — each evaluates once per row, but binding
    # keeps the concat from being built twice)
    pages = d.select(src.alias("src_domain"), _links_html().alias("_html"))
    pairs = pages.select(
        "src_domain",
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all("_html", F.lit(ANCHOR_RE), 1).alias("href"),
                F.regexp_extract_all("_html", F.lit(ANCHOR_RE), 2).alias("anchor"),
            )
        ).alias("p"),
    )
    e = pairs.select(
        _resolve_href(F.col("p.href"), F.col("src_domain")).alias(
            "dst_domain"
        ),
        F.col("p.anchor").alias("anchor"),
    )
    agg = e.groupBy("dst_domain", "anchor").agg(F.count("*").alias("n"))
    w = Window.partitionBy("dst_domain").orderBy(F.desc("n"), F.asc("anchor"))
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANCHOR_TOPK)
        .select("dst_domain", "anchor", "n", "rk")
    )


# closed-form over (doc_id, source) — never re-runs the regex, so a
# hash match proves synth → two-group parse → zip → resolve → rollup
# → rank end-to-end (same discipline as SQL_LINK_GRAPH)
SQL_ANCHOR_TEXT = f"""
WITH pages AS (
  SELECT doc_id,
         source || '-site.'
           || ['com', 'org', 'net'][CAST(doc_id % 3 + 1 AS INT)] AS src
  FROM documents
),
anchors AS (
  SELECT src AS dst, a AS anchor FROM pages, UNNEST(['Home', 'About']) t(a)
  UNION ALL
  SELECT 'dst' || CAST((doc_id + j * 31) % 23 AS VARCHAR) || '-hub.com',
         CASE WHEN doc_id % 2 = 0 THEN 'ref ' ELSE 'link ' END
           || CAST(j AS VARCHAR)
  FROM pages, UNNEST(range(1, CAST(doc_id % 3 + 2 AS BIGINT))) t(j)
),
agg AS (
  SELECT dst AS dst_domain, anchor, CAST(count(*) AS BIGINT) AS n
  FROM anchors GROUP BY 1, 2
)
SELECT dst_domain, anchor, n, CAST(rk AS INT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY dst_domain
                                   ORDER BY n DESC, anchor) AS rk FROM agg)
WHERE rk <= {ANCHOR_TOPK}
"""


_ROB_H = DUCK_MD5I32.format(x="'rob/' || domain")

SQL_ROBOTS_FILTER = f"""
WITH u AS (
  SELECT doc_id,
         'http://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END
           || source || '-site.'
           || ['com', 'org', 'net'][CAST(doc_id % 3 + 1 AS INT)] AS hostpart,
         ['/page/', '/private/', '/archive/'][CAST(doc_id % 3 + 1 AS INT)]
           || CAST(doc_id AS VARCHAR) AS path
  FROM documents
),
per AS (
  SELECT doc_id,
         regexp_extract(hostpart || path, '{DOMAIN_RE}', 1) AS domain,
         path
  FROM u
),
rules AS (
  SELECT domain,
         1 + CASE WHEN {_ROB_H} % 2 = 0 THEN 1 ELSE 0 END AS n_rules,
         {_ROB_H} % 2 = 0 AS has_archive
  FROM (SELECT DISTINCT domain FROM per)
)
SELECT doc_id, domain, path, CAST(n_rules AS INT) AS n_rules,
       CASE WHEN path LIKE '/private/%'
              OR (has_archive AND path LIKE '/archive/%')
            THEN 0 ELSE 1 END AS allowed
FROM per JOIN rules USING (domain)
"""


# --------------------------------------------------------------------------
# span_corruption — T5-style span-corruption mask plan (Raffel et al.
# 2020 §3.1.4: mask ~15% of tokens in multi-token spans, one sentinel
# per span).  Deterministic version: one span per SC_GRID-token slot,
# span length hash-jittered in {2, 3, 4} (mean 3 = T5's mean span
# length; 3/20 = the paper's 15% corruption rate), offset hash-placed
# so the span sits fully inside its slot — spans are non-overlapping
# BY CONSTRUCTION (no rejection loop, no prefix scan).  Docs shorter
# than one slot emit nothing (documented; the tail tokens of every doc
# are likewise never masked).  Output is the MASK PLAN relation
# (doc_id, sentinel_id, span_start, span_len, masked_text) — the
# downstream encoder consumes it as (inputs with sentinels, targets);
# emitting the plan rather than rewritten text keeps the op pure
# column math and the join-back trivial.
#
# Scale shape (100 TB): entirely per-row — slot count, jitters, and
# boundaries are O(1) closed-form hashes of (doc_id, slot) over the
# bound token column (the c4_line_filter grid pattern); one narrow
# explode, zero Exchange (plan-audited).
# --------------------------------------------------------------------------

SC_GRID = 20  # one masked span per 20-token slot
SC_LEN_MIN = 2  # span length = SC_LEN_MIN + h % SC_LEN_MOD in {2,3,4}
SC_LEN_MOD = 3


def span_corruption(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", toks(F.col("text")).alias("tk"))
    n = F.size("tk")
    w = d.filter(n >= SC_GRID).withColumn(
        "_slots", F.floor(n / F.lit(SC_GRID)).cast("int")
    )
    ds = F.col("doc_id").cast("string")

    def h(tag, i):
        return md5i32(F.concat(ds, F.lit(tag), i.cast("string")))

    def span(i):
        ln = h("L", i) % SC_LEN_MOD + SC_LEN_MIN
        off = h("O", i) % (F.lit(SC_GRID).cast("bigint") - ln + 1)
        st = (i.cast("bigint") - 1) * SC_GRID + 1 + off
        return F.struct(
            i.cast("int").alias("sentinel_id"),
            st.cast("int").alias("span_start"),
            ln.cast("int").alias("span_len"),
            F.concat_ws(
                " ", F.slice(F.col("tk"), st.cast("int"), ln.cast("int"))
            ).alias("masked_text"),
        )

    return (
        w.select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(1), F.col("_slots")), span)
            ).alias("s"),
        )
        .select(
            "doc_id", "s.sentinel_id", "s.span_start", "s.span_len",
            "s.masked_text",
        )
    )


_SC_H_L = DUCK_MD5I32.format(x="doc_id || 'L' || i")
_SC_H_O = DUCK_MD5I32.format(x="doc_id || 'O' || i")

SQL_SPAN_CORRUPTION = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
w AS (SELECT doc_id, tk, len(tk) // {SC_GRID} AS slots
      FROM d WHERE len(tk) >= {SC_GRID}),
s AS (SELECT doc_id, tk, i, {_SC_H_L} % {SC_LEN_MOD} + {SC_LEN_MIN} AS ln
      FROM w, UNNEST(range(1, slots + 1)) t(i)),
s2 AS (SELECT doc_id, tk, i, ln,
              (i - 1) * {SC_GRID} + 1 + ({_SC_H_O} % ({SC_GRID} - ln + 1))
                AS st
       FROM s)
SELECT doc_id, CAST(i AS INT) AS sentinel_id, CAST(st AS INT) AS span_start,
       CAST(ln AS INT) AS span_len,
       array_to_string(tk[st:st+ln-1], ' ') AS masked_text
FROM s2
"""


# --------------------------------------------------------------------------
# weighted_sample — weighted sampling without replacement (Efraimidis &
# Spirakis 2006, algorithm A-ES): each item draws a deterministic
# uniform u from its id and ranks by ln(u)/w (the log form of u^(1/w));
# the global top-K is EXACTLY a weighted sample without replacement —
# inclusion probability proportional to weight, here token count (the
# "sample by training-token mass" rule a data-mixing pipeline needs).
# Hash-derived u (not rand()) keeps retried tasks and resumed runs
# consistent — the same corpus always yields the same sample.
#
# Scale shape (100 TB): one narrow map computes the key, then a
# DISTRIBUTED top-K (TakeOrderedAndProject — never a global sort);
# the ranking window runs over the K survivors only (the bm25 qterms
# pattern).  The ln() double is floored to integer micros before any
# comparison, and the oracle mirrors Spark's exact float association
# (the CLAUDE.md float-oracle rule), so ranks cannot flip cross-engine.
# --------------------------------------------------------------------------

WS_K = 50
_WS_U_DEN = 4294967296.0  # 2^32: u = (h + 0.5) / 2^32 in (0, 1)


def weighted_sample(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(toks(F.col("text"))).alias("w_tokens")
    )
    h = md5i32(F.concat(F.lit("ws|"), F.col("doc_id").cast("string")))
    key = F.floor(
        F.log((h + F.lit(0.5)) / F.lit(_WS_U_DEN))
        / F.col("w_tokens")
        * F.lit(1000000.0)
    ).cast("bigint")
    top = (
        d.withColumn("key_micro", key)
        .orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(WS_K)
    )
    rw = Window.orderBy(F.desc("key_micro"), F.asc("doc_id"))  # K rows
    return top.withColumn("rk", F.row_number().over(rw).cast("int")).select(
        "doc_id", "w_tokens", "key_micro", "rk"
    )


_WS_H = DUCK_MD5I32.format(x="'ws|' || doc_id")

SQL_WEIGHTED_SAMPLE = f"""
WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS w_tokens
           FROM documents),
k AS (SELECT doc_id, w_tokens,
             CAST(floor(ln(({_WS_H} + 0.5) / {_WS_U_DEN})
                        / w_tokens * 1000000.0) AS BIGINT) AS key_micro
      FROM d)
SELECT doc_id, w_tokens, key_micro,
       CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id) AS INT) AS rk
FROM k
ORDER BY key_micro DESC, doc_id
LIMIT {WS_K}
"""


# --------------------------------------------------------------------------
# recrawl_schedule — freshness-driven recrawl planning (Cho &
# Garcia-Molina 2003, "Effective Page Refresh Policies for Web
# Crawlers": estimate each page's change rate from its observed
# change history, schedule the next fetch accordingly).  The events
# table stands in for the crawler's per-page observation log
# (page_id = user_id, each event = one observed content change):
# mean inter-change gap = (last − first) / (n_obs − 1), next fetch
# due at last + gap, banded hourly/daily/slow for the scheduler's
# queue selection; single-observation pages get the conservative
# default gap and an 'unknown' band.  All time math in integer epoch
# seconds (the queries.py timestamp rule: `unix_timestamp` vs
# `floor(epoch(...))`), div on non-negative operands.
#
# The raw event cadence puts every natural page in the daily band, so
# two deterministic variants are synthesized (the code_detect/
# decontaminate precedent) to make every scheduler branch fire: hot
# pages (+700000) with the clock compressed 60x, and sparse pages
# (+800000) observed only at every 50th event (n_obs 1 → unknown,
# n_obs >= 2 far apart → slow).  Offsets follow the repo's
# collision-proof convention (+100000..+600000 are taken; mojibake_fix
# later claimed +900000) — small offsets would merge variant histories
# into natural pages once the id space grows past them (measured at
# sf0.1 with +1000/+2000).
#
# Scale shape (10^12 pages): ONE map-side-combined Exchange to page
# grain (count/min/max partial-aggregate before the shuffle —
# plan-audited), then narrow per-row banding; no window, no join,
# no python.
# --------------------------------------------------------------------------

RECRAWL_DEFAULT_GAP_S = 7 * 86400  # no-history fallback: weekly
RECRAWL_HOURLY_MAX_S = 3600
RECRAWL_DAILY_MAX_S = 86400
RECRAWL_HOT_OFFSET = 700_000
RECRAWL_HOT_COMPRESS = 60
RECRAWL_SPARSE_OFFSET = 800_000
RECRAWL_SPARSE_EVERY = 50


def recrawl_schedule(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.col("user_id").alias("page_id"),
        F.unix_timestamp("ts").alias("ts_s"),
    )
    hot = base.select(
        (F.col("page_id") + RECRAWL_HOT_OFFSET).alias("page_id"),
        F.expr(f"ts_s div {RECRAWL_HOT_COMPRESS}").alias("ts_s"),
    )
    sparse = base.filter(
        F.col("event_id") % RECRAWL_SPARSE_EVERY == 0
    ).select(
        (F.col("page_id") + RECRAWL_SPARSE_OFFSET).alias("page_id"), "ts_s"
    )
    e = base.select("page_id", "ts_s").unionByName(hot).unionByName(sparse)
    g = e.groupBy("page_id").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.min("ts_s").alias("first_s"),
        F.max("ts_s").alias("last_s"),
    )
    gap = F.expr(
        "CASE WHEN n_obs >= 2 THEN (last_s - first_s) div (n_obs - 1)"
        f" ELSE CAST({RECRAWL_DEFAULT_GAP_S} AS BIGINT) END"
    )
    p = g.withColumn("gap_s", gap)
    band = (
        F.when(F.col("n_obs") < 2, F.lit("unknown"))
        .when(F.col("gap_s") <= RECRAWL_HOURLY_MAX_S, F.lit("hourly"))
        .when(F.col("gap_s") <= RECRAWL_DAILY_MAX_S, F.lit("daily"))
        .otherwise(F.lit("slow"))
    )
    return p.select(
        "page_id",
        "n_obs",
        "gap_s",
        band.alias("band"),
        (F.col("last_s") + F.col("gap_s")).alias("next_due_s"),
    )


SQL_RECRAWL_SCHEDULE = f"""
WITH base AS (
  SELECT event_id, user_id AS page_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
),
e AS (
  SELECT page_id, ts_s FROM base
  UNION ALL
  SELECT page_id + {RECRAWL_HOT_OFFSET},
         ts_s // {RECRAWL_HOT_COMPRESS}
  FROM base
  UNION ALL
  SELECT page_id + {RECRAWL_SPARSE_OFFSET}, ts_s
  FROM base WHERE event_id % {RECRAWL_SPARSE_EVERY} = 0
),
g AS (
  SELECT page_id, CAST(count(*) AS BIGINT) AS n_obs,
         min(ts_s) AS first_s, max(ts_s) AS last_s
  FROM e GROUP BY 1
),
p AS (
  SELECT page_id, n_obs, last_s,
         CASE WHEN n_obs >= 2 THEN (last_s - first_s) // (n_obs - 1)
              ELSE CAST({RECRAWL_DEFAULT_GAP_S} AS BIGINT) END AS gap_s
  FROM g
)
SELECT page_id, n_obs, gap_s,
       CASE WHEN n_obs < 2 THEN 'unknown'
            WHEN gap_s <= {RECRAWL_HOURLY_MAX_S} THEN 'hourly'
            WHEN gap_s <= {RECRAWL_DAILY_MAX_S} THEN 'daily'
            ELSE 'slow' END AS band,
       last_s + gap_s AS next_due_s
FROM p
"""


# --------------------------------------------------------------------------
# split_leakage — train/test contamination audit: near-duplicate pairs
# that straddle a split boundary (the eval-integrity check behind
# every "we deduplicated test against train" claim — GPT-3's App. C
# found exactly this class of leak after training).  Candidate pairs
# come from the SAME minhash band index dedup_minhash_lsh uses
# (`_band_pairs`, single-sourced) and split labels from the SAME
# salted bucket rule train_split uses (`_split_bucket`/`_split_label`)
# — the audit can never disagree with either component about what is
# a near-dup or where a document landed.  Every candidate pair is
# reported with both labels and a leak flag, so the relation also
# evidences the non-leaking mass.
#
# Scale shape (100 TB): the minhash table is checkpointed before the
# band self-join (measured: without it Catalyst plans BOTH join sides
# from the raw corpus — the shingle+md5 scan, the op's dominant cost,
# runs twice; the dedup_minhash_lsh precedent), so the final plan has
# ZERO raw corpus scans (plan-audited); split labels are narrow md5
# expressions over the pair ids — no extra join against a split
# table, no corpus rescan.
# --------------------------------------------------------------------------


def split_leakage(spark, sf_dir):
    from .dedup import _band_pairs, _bands, _near_dup_corpus, _with_minhash

    mh = _with_minhash(_near_dup_corpus(spark, sf_dir)).localCheckpoint()
    pairs = _band_pairs(_bands(mh))
    sa = _split_label(_split_bucket(F.col("a")))
    sb = _split_label(_split_bucket(F.col("b")))
    return pairs.select(
        "a",
        "b",
        sa.alias("split_a"),
        sb.alias("split_b"),
        (sa != sb).cast("int").alias("leak"),
    )


def _sql_split_leakage() -> str:
    from .dedup import _MH_CTES

    return (
        _MH_CTES
        + f"""
SELECT a, b, {_duck_split_case('ba')} AS split_a,
       {_duck_split_case('bb')} AS split_b,
       CASE WHEN {_duck_split_case('ba')} <> {_duck_split_case('bb')}
            THEN 1 ELSE 0 END AS leak
FROM (SELECT a, b, {_duck_split_bucket('a')} AS ba,
             {_duck_split_bucket('b')} AS bb
      FROM pairs)
"""
    )


SQL_SPLIT_LEAKAGE = _sql_split_leakage()


# --------------------------------------------------------------------------
# site_boilerplate — CROSS-PAGE template removal (the CCNet /
# trafilatura site-level cut): a line that appears on most pages of
# one DOMAIN is site chrome — nav bars, cookie banners, footers —
# even when it is globally rare, so it cannot be caught by global
# line/paragraph dedup (`paragraph_dedup`) or by within-document
# repetition (`line_dedup`).  Mechanism: per (domain, line) count the
# DISTINCT pages containing the line, flag lines on ≥ BP_PCT% of a
# domain's pages (domains with ≥ BP_MIN_PAGES pages only — tiny
# domains can't witness a template), and report per page how much of
# it was chrome and whether it falls to the drop gate.
#
# The driver corpus has no real site chrome, so it is synthesized
# deterministically (the line_dedup/ocr_garble precedent): every page
# gets a per-domain nav banner line prepended, and pages with
# doc_id % 10 != 0 get a per-domain copyright footer appended — so
# each domain carries one ~100% template line and one ~90% one, both
# above the gate, while natural 5-token lines stay (mostly) below it.
# The GENERIC mechanism runs with no knowledge of the synthesis.
#
# Scale shape (100 TB): the doc-grain (domain, lines[]) table is
# localCheckpointed (text dropped at the scan) — it feeds the
# frequency branch AND the per-page chrome count, and each branch
# replays only a narrow explode off the checkpoint, never the raw
# corpus (the dist_drift rule).  The page-set count is
# distinct-then-count (partial-aggregates; never a countDistinct
# buffer), frequency and page-count tables join at domain/line grain
# (high cardinality, no broadcast of unbounded sides), and the
# boilerplate line set anti-joins nothing — the per-page rollup is a
# (domain, line) equi-join + doc-grain groupBy.  All ratios are
# integer-exact (_ppm_exact / cross-multiplied gates).
# --------------------------------------------------------------------------

BP_LINE_W = 5  # tokens per synthesized line (the line_dedup width)
BP_PCT = 60  # boilerplate ⇔ line on ≥ 60% of the domain's pages
BP_MIN_PAGES = 3  # domains smaller than this can't witness a template
BP_DROP_PCT = 30  # drop a page if > 30% of its lines are chrome


def _bp_pages(spark, sf_dir):
    """Doc-grain (doc_id, domain, lines[]) with the synthetic chrome
    injected — banner on every page, footer on 90% of them."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("source").alias("domain"),
        toks(F.col("text")).alias("_tk"),
    )
    nl = F.expr(f"(size(_tk) + {BP_LINE_W - 1}) div {BP_LINE_W}")
    d = d.select("doc_id", "domain", "_tk", nl.alias("_nl"))
    body = F.expr(
        f"transform(sequence(1, _nl), "
        f"i -> concat_ws(' ', slice(_tk, (i - 1) * {BP_LINE_W} + 1, "
        f"{BP_LINE_W})))"
    )
    banner = F.concat(F.lit("nav "), F.col("domain"), F.lit(" home"))
    footer = F.concat(F.lit("copyright "), F.col("domain"), F.lit(" legal"))
    lines = F.concat(
        F.array(banner),
        body,
        F.when(F.col("doc_id") % 10 != 0, F.array(footer)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    return d.select("doc_id", "domain", lines.alias("lines"))


def site_boilerplate(spark, sf_dir):
    d0 = _bp_pages(spark, sf_dir).localCheckpoint()
    lines = d0.select(
        "doc_id", "domain", F.explode("lines").alias("line")
    )
    freq = (
        lines.distinct()  # page SET per line, not occurrence count
        .groupBy("domain", "line")
        .agg(F.count("*").cast("bigint").alias("n_docs_line"))
    )
    npages = d0.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_pages")
    )
    bp = (
        freq.join(npages, "domain")
        .filter(
            (F.col("n_pages") >= BP_MIN_PAGES)
            & (F.col("n_docs_line") * 100 >= BP_PCT * F.col("n_pages"))
        )
        .select("domain", "line")
    )
    boiler = lines.join(bp, ["domain", "line"]).groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_boiler")
    )
    out = (
        d0.select(
            "doc_id", "domain", F.size("lines").cast("bigint").alias("n_lines")
        )
        .join(boiler, "doc_id", "left")
        .withColumn("n_boiler", F.coalesce("n_boiler", F.lit(0).cast("bigint")))
    )
    return out.select(
        "doc_id",
        "domain",
        "n_lines",
        "n_boiler",
        F.expr(_ppm_exact("(n_lines - n_boiler)", "n_lines", "div"))
        .cast("bigint")
        .alias("keep_ratio_ppm"),
        (F.col("n_boiler") * 100 > BP_DROP_PCT * F.col("n_lines"))
        .cast("int")
        .alias("is_dropped"),
    )


SQL_SITE_BOILERPLATE = f"""
WITH t AS (
  SELECT doc_id, source AS domain, string_split(text, ' ') AS tk
  FROM documents
),
d0 AS (
  SELECT doc_id, domain,
         list_concat(list_concat(
           ['nav ' || domain || ' home'],
           list_transform(
             range(1, (len(tk) + {BP_LINE_W - 1}) // {BP_LINE_W} + 1),
             i -> array_to_string(
               tk[(i - 1) * {BP_LINE_W} + 1 : i * {BP_LINE_W}], ' '))),
           CASE WHEN doc_id % 10 <> 0
                THEN ['copyright ' || domain || ' legal']
                ELSE [] END) AS lines
  FROM t
),
lines AS (
  SELECT doc_id, domain, unnest(lines) AS line FROM d0
),
freq AS (
  SELECT domain, line, CAST(count(*) AS BIGINT) AS n_docs_line
  FROM (SELECT DISTINCT doc_id, domain, line FROM lines) GROUP BY 1, 2
),
npages AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_pages FROM d0 GROUP BY 1
),
bp AS (
  SELECT freq.domain, freq.line
  FROM freq JOIN npages ON freq.domain = npages.domain
  WHERE n_pages >= {BP_MIN_PAGES}
    AND n_docs_line * 100 >= {BP_PCT} * n_pages
),
boiler AS (
  SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
  FROM lines l JOIN bp ON l.domain = bp.domain AND l.line = bp.line
  GROUP BY 1
),
o AS (
  SELECT d0.doc_id, d0.domain,
         CAST(len(d0.lines) AS BIGINT) AS n_lines,
         coalesce(boiler.n_boiler, 0) AS n_boiler
  FROM d0 LEFT JOIN boiler ON d0.doc_id = boiler.doc_id
)
SELECT doc_id, domain, n_lines, n_boiler,
       {_ppm_exact('(n_lines - n_boiler)', 'n_lines', '//')}
         AS keep_ratio_ppm,
       CASE WHEN n_boiler * 100 > {BP_DROP_PCT} * n_lines
            THEN 1 ELSE 0 END AS is_dropped
FROM o
"""


# --------------------------------------------------------------------------
# license_detect — license classification for corpus release (the
# code/Common-Crawl curation gate: Creative-Commons and permissive-
# license detection decides what may enter a redistributable training
# set; The Stack and C4's license filters run exactly this pass).
# Detection is a PRECEDENCE-ordered regex family — 'cc-by-nc' must
# win over its substring 'cc-by', the classic license-detector trap —
# over the last LICENSE_TAIL chars (license boilerplate lives at
# document tails; bounding the scan keeps per-row cost independent of
# document size).  Patterns are Java∩RE2 (char classes only, no
# lookaround — the pii_scrub rule).
#
# The driver corpus carries no license text, so deterministic
# markers are injected by doc_id residue (the line_dedup/mojibake
# synthesis precedent): five license classes + unmarked docs, so
# every branch of the precedence chain and both train_ok verdicts
# fire.  The GENERIC detector never sees the synthesis rule.
#
# Scale shape (100 TB): one narrow pass — zero Exchange, zero join,
# zero python (plan-audited).  At 10^12 docs the output feeds the
# curation anti-join (`curate_keep`); the policy column is computed
# here so the join carries one int, not regex re-evaluation.
# --------------------------------------------------------------------------

LICENSE_TAIL = 256  # license boilerplate lives at document tails
# (class, detector regex, marker text injected, redistributable)
LICENSE_RULES = [
    ("cc-by-nc", r"cc[- ]by[- ]nc", "licensed under cc-by-nc 4.0", 0),
    ("cc-by", r"cc[- ]by", "licensed under cc-by 4.0", 1),
    ("mit", r"mit license", "mit license applies", 1),
    ("apache-2.0", r"apache license", "apache license 2.0", 1),
    ("proprietary", r"all rights reserved", "all rights reserved", 0),
]
LICENSE_MOD = 7  # doc_id % 7 ∈ 1..5 picks a marker; 0/6 stay unmarked


def _license_corpus(spark, sf_dir):
    """documents with deterministic license markers appended."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    marker = F.lit("")
    for i, (_cls, _re, m, _ok) in enumerate(LICENSE_RULES):
        marker = F.when(
            F.col("doc_id") % LICENSE_MOD == i + 1, F.lit(" " + m)
        ).otherwise(marker)
    return d.select("doc_id", F.concat("text", marker).alias("text"))


def license_detect(spark, sf_dir):
    c = _license_corpus(spark, sf_dir)
    # explicit clamped start, not substring(-N): negative-start substr
    # returns '' when the doc is shorter than N (Hive semantics), which
    # would silently skip short docs — and DuckDB clamps differently
    tail = F.expr(
        f"substring(text, greatest(length(text) - {LICENSE_TAIL} + 1, 1), "
        f"{LICENSE_TAIL})"
    ).alias("_tail")
    c = c.select("doc_id", tail)
    lic = F.lit("none")
    ok = F.lit(1)
    # build the CASE chain back-to-front so earlier rules win
    for cls, rx, _m, redis in reversed(LICENSE_RULES):
        hit = F.col("_tail").rlike(rx)
        lic = F.when(hit, F.lit(cls)).otherwise(lic)
        ok = F.when(hit, F.lit(redis)).otherwise(ok)
    return c.select(
        "doc_id",
        lic.alias("license"),
        ok.cast("int").alias("train_ok"),
    )


def _sql_license() -> str:
    marker = "''"
    for i, (_cls, _re, m, _ok) in enumerate(LICENSE_RULES):
        marker = (
            f"CASE WHEN doc_id % {LICENSE_MOD} = {i + 1} "
            f"THEN ' {m}' ELSE {marker} END"
        )
    whens_lic = "\n         ".join(
        f"WHEN regexp_matches(tail, '{rx}') THEN '{cls}'"
        for cls, rx, _m, _ok in LICENSE_RULES
    )
    whens_ok = "\n         ".join(
        f"WHEN regexp_matches(tail, '{rx}') THEN {ok}"
        for _cls, rx, _m, ok in LICENSE_RULES
    )
    return f"""
WITH c AS (
  SELECT doc_id, text || ({marker}) AS text FROM documents
),
t AS (
  SELECT doc_id,
         substr(text, greatest(length(text) - {LICENSE_TAIL} + 1, 1),
                {LICENSE_TAIL}) AS tail
  FROM c
)
SELECT doc_id,
       CASE {whens_lic}
         ELSE 'none' END AS license,
       CAST(CASE {whens_ok}
         ELSE 1 END AS INT) AS train_ok
FROM t
"""


SQL_LICENSE_DETECT = _sql_license()


# --------------------------------------------------------------------------
# token_budget_cap — per-domain contribution bounding in TOKENS (the
# Gopher / PaLM "cap any single domain's share" rule, and the
# user-level contribution bound DP training needs): within each
# source, documents are taken in a deterministic md5-shuffled order
# until the token budget is hit; the straddling document is TRUNCATED
# to the remaining budget (budgets are token-exact, not doc-exact),
# everything after it drops.  Differs from crawl_frontier's top-K
# COUNT cap: the budget is additive over a per-row weight, so the
# cutoff needs a running sum, not a rank.
#
# Scale shape (100 TB): ONE Exchange+Sort keyed on source — domain
# grain, millions of keys at web scale, so window parallelism scales
# with domains (NOT the ~5-key lang trap q_compact_plan hit; a
# mega-domain is bounded by its own doc count, and past the budget
# every row is a constant-time 'drop').  The running sum uses
# rowsBetween(unboundedPreceding, -1) so the straddle test sees the
# PRIOR total — including the current row would misclassify the
# first over-budget doc.  Order is (md5, doc_id) — deterministic,
# retry-stable, and unbiased w.r.t. crawl order (the
# sample_stratified hash convention).
# --------------------------------------------------------------------------

BUDGET_TOKENS = 1000  # per-source token budget


def token_budget_cap(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(toks(F.col("text"))).cast("bigint").alias("n_tokens"),
        md5i32(F.col("doc_id").cast("string")).alias("_ord"),
    )
    w = Window.partitionBy("source").orderBy("_ord", "doc_id")
    before = F.coalesce(
        F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("bigint"),
    )
    d = d.select("doc_id", "source", "n_tokens", before.alias("cum_before"))
    kept = F.greatest(
        F.least(F.lit(BUDGET_TOKENS) - F.col("cum_before"), F.col("n_tokens")),
        F.lit(0).cast("bigint"),
    )
    status = (
        F.when(F.col("cum_before") >= BUDGET_TOKENS, F.lit("drop"))
        .when(
            F.col("cum_before") + F.col("n_tokens") <= BUDGET_TOKENS,
            F.lit("keep"),
        )
        .otherwise(F.lit("truncate"))
    )
    return d.select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_before",
        kept.cast("bigint").alias("kept_tokens"),
        status.alias("status"),
    )


SQL_TOKEN_BUDGET_CAP = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {DUCK_MD5I32.format(x="CAST(doc_id AS VARCHAR)")} AS ord
  FROM documents
),
c AS (
  -- CAST: sum(BIGINT) OVER is HUGEINT in DuckDB; left bare it (and
  -- the kept_tokens arithmetic built on it) reaches the output where
  -- the driver's pandas canon floats it (the kmeans_update rule)
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY ord, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS cum_before
  FROM d
)
SELECT doc_id, source, n_tokens, cum_before,
       CAST(greatest(least({BUDGET_TOKENS} - cum_before, n_tokens), 0)
            AS BIGINT) AS kept_tokens,
       CASE WHEN cum_before >= {BUDGET_TOKENS} THEN 'drop'
            WHEN cum_before + n_tokens <= {BUDGET_TOKENS} THEN 'keep'
            ELSE 'truncate' END AS status
FROM c
"""


# --------------------------------------------------------------------------
# path_rollup — hierarchical URL-path accounting (the `du`-style
# rollup a crawl store runs for storage attribution and section-level
# curation: "how many docs / bytes under /forum vs /docs on this
# host").  Every page contributes one row per PATH PREFIX level
# (bounded ×PATH_LEVELS explode — the hierarchy is part of the row,
# never a recursive self-join or a per-level rescan), then one
# (domain, prefix) rollup; the parent/child containment invariant
# (each prefix's count = Σ of its children + leaves) is what makes
# the output navigable and is pytest-pinned.
#
# Paths are synthesized deterministically at 3 levels
# (/cat<id%5>/sub<id%50>/page-<id>) since the driver corpus has no
# real URLs — the GENERIC mechanism (prefix explode + rollup) is the
# scale-relevant part.
#
# Scale shape (100 TB): one bounded Generate + ONE map-side-combined
# Exchange at (domain, prefix) grain — high cardinality, no join, no
# window, no python (plan-audited).
# --------------------------------------------------------------------------

PATH_LEVELS = 3


def path_rollup(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", F.col("source").alias("domain"), "n_chars"
    )
    seg1 = F.concat(F.lit("/cat"), (F.col("doc_id") % 5).cast("string"))
    seg2 = F.concat(
        seg1, F.lit("/sub"), (F.col("doc_id") % 50).cast("string")
    )
    seg3 = F.concat(seg2, F.lit("/page-"), F.col("doc_id").cast("string"))
    prefixes = F.array(
        *[
            F.struct(F.lit(i + 1).alias("depth"), s.alias("prefix"))
            for i, s in enumerate([seg1, seg2, seg3])
        ]
    )
    return (
        d.select("domain", "n_chars", F.explode(prefixes).alias("p"))
        .groupBy("domain", F.col("p.depth").alias("depth"), F.col("p.prefix").alias("prefix"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


SQL_PATH_ROLLUP = """
WITH d AS (
  SELECT doc_id, source AS domain, n_chars,
         '/cat' || CAST(doc_id % 5 AS VARCHAR) AS s1
  FROM documents
),
d2 AS (
  SELECT *, s1 || '/sub' || CAST(doc_id % 50 AS VARCHAR) AS s2 FROM d
),
d3 AS (
  SELECT *, s2 || '/page-' || CAST(doc_id AS VARCHAR) AS s3 FROM d2
),
x AS (
  SELECT domain, n_chars,
         unnest([1, 2, 3]) AS depth,
         unnest([s1, s2, s3]) AS prefix
  FROM d3
)
SELECT domain, CAST(depth AS INT) AS depth, prefix,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM x GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# vocab_dense_ids — dictionary encoding at vocabulary scale: assign
# every distinct token a DENSE id 0..V−1 (embedding tables index by
# dense ids; feature hashing trades collisions for this exact step).
# The naive dense-id assignment is row_number() over one global
# ordering — a single-partition sort bottleneck at 10^8-token
# vocabularies.  This op is the TWO-PASS SHARD REBASE instead (the
# q_compact_plan pattern at vocabulary grain): tokens shard by md5 bucket, rank within their bucket
# (VOCAB_BUCKETS-way parallel), bucket sizes roll up to a tiny table
# whose running sum gives each bucket's base offset, and
# id = base(bucket) + rank − 1.  Ids are provably a permutation of
# 0..V−1 (pytest-pinned).
#
# Scale shape (10^8 vocab): ONE vocab-grain Exchange for the counts,
# per-bucket ranking windows (parallelism = VOCAB_BUCKETS — a dial,
# 16 here, thousands at scale), a VOCAB_BUCKETS-row base table
# computed with a single-partition window over TELEMETRY-sized data
# and broadcast back.  Within-bucket order is (count desc, token) —
# deterministic, and frequent tokens get small ids within their
# bucket (cache-friendly for embedding rows).
# --------------------------------------------------------------------------

VOCAB_BUCKETS = 16


def vocab_dense_ids(spark, sf_dir):
    t = _docs(spark, sf_dir).select(
        F.explode(toks(F.col("text"))).alias("token")
    )
    cnt = t.groupBy("token").agg(F.count("*").cast("bigint").alias("cnt"))
    cnt = cnt.withColumn(
        "bucket", (md5i32(F.col("token")) % VOCAB_BUCKETS).cast("int")
    )
    wr = Window.partitionBy("bucket").orderBy(F.desc("cnt"), F.asc("token"))
    ranked = cnt.withColumn("_r", F.row_number().over(wr))
    sizes = cnt.groupBy("bucket").agg(F.count("*").alias("_sz"))
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = sizes.select(
        "bucket",
        F.coalesce(F.sum("_sz").over(wb), F.lit(0)).alias("_base"),
    )
    return ranked.join(F.broadcast(bases), "bucket").select(
        "token",
        "cnt",
        "bucket",
        (F.col("_base") + F.col("_r") - 1).cast("bigint").alias("vocab_id"),
    )


SQL_VOCAB_DENSE_IDS = f"""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt,
         CAST({DUCK_MD5I32.format(x='token')} % {VOCAB_BUCKETS} AS INT)
           AS bucket
  FROM t GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY bucket ORDER BY cnt DESC, token) AS r
  FROM cnt
),
bases AS (
  SELECT bucket,
         coalesce(sum(sz) OVER (ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS base
  FROM (SELECT bucket, count(*) AS sz FROM cnt GROUP BY 1)
)
SELECT ranked.token, ranked.cnt, ranked.bucket,
       CAST(bases.base + ranked.r - 1 AS BIGINT) AS vocab_id
FROM ranked JOIN bases USING (bucket)
"""


# --------------------------------------------------------------------------
# k_anonymity — privacy-governance telemetry (Sweeney 2002): group the
# corpus by a quasi-identifier tuple and report each equivalence
# class's size k and the l-diversity of a sensitive attribute, with
# re-identification flags (k < K, or every record in the class shares
# one sensitive value).  Training-data releases run exactly this audit
# before publishing metadata-carrying corpora — a (lang, length-
# bucket) pair with k = 1 pinpoints a single document/contributor.
# QI here = (lang, n_chars DIV 256); sensitive attribute = source.
#
# Scale shape (100 TB): ONE map-side-combined Exchange at QI grain;
# the l-diversity distinct-aggregate rewrites into a (QI, source)
# partial dedup before the class rollup (Spark's expand-distinct —
# both phases partial-aggregate; no unbounded buffer), and the
# count(*) rides the same shuffle.  Narrow projection, no join, no
# window, no python.  All integers.
# --------------------------------------------------------------------------

KANON_BUCKET = 256  # n_chars quantum for the QI tuple
KANON_K_MIN = 5  # k < 5 ⇒ re-identification risk
KANON_L_MIN = 2  # l < 2 ⇒ attribute-disclosure risk


def k_anonymity(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "lang",
        F.expr(f"n_chars div {KANON_BUCKET}").alias("size_bucket"),
        "source",
    )
    g = d.groupBy("lang", "size_bucket").agg(
        F.count("*").cast("bigint").alias("k"),
        F.countDistinct("source").cast("bigint").alias("l_distinct"),
    )
    return g.select(
        "lang",
        "size_bucket",
        "k",
        "l_distinct",
        (F.col("k") < KANON_K_MIN).cast("int").alias("at_risk_k"),
        (F.col("l_distinct") < KANON_L_MIN).cast("int").alias("at_risk_l"),
    )


SQL_K_ANONYMITY = f"""
SELECT lang,
       n_chars // {KANON_BUCKET} AS size_bucket,
       CAST(count(*) AS BIGINT) AS k,
       CAST(count(DISTINCT source) AS BIGINT) AS l_distinct,
       CASE WHEN count(*) < {KANON_K_MIN} THEN 1 ELSE 0 END AS at_risk_k,
       CASE WHEN count(DISTINCT source) < {KANON_L_MIN}
            THEN 1 ELSE 0 END AS at_risk_l
FROM documents
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# dq_checks — the data-quality gate every nightly ingest runs before
# anything downstream trusts a landing batch (Great-Expectations /
# dbt-test style): a fixed rule set evaluated in ONE pass, reported at
# RULE grain (rule, rows checked, violations, exact-ppm rate) so a
# single relation answers "which contract broke and how badly".
# Rules: null text, empty text, n_chars != length(text) (the
# metadata/payload consistency contract), lang outside the declared
# set, negative doc_id.  The driver corpus is clean by construction,
# so the landing batch under test is base ∪ PLANTED corrupt variants
# (the ocr_garble/mojibake synthesis convention: every doc_id %
# DQ_CORRUPT_MOD == 0 doc re-keyed at +DQ_OFFSET with lang='xx' and
# n_chars skewed +7) — both firing and non-firing rules are exercised,
# which is what makes the report's zeros trustworthy.
#
# Scale shape: ONE scan of the landing batch; every rule is a
# conditional partial-aggregable sum into a 1-row aggregate; the
# rule-grain unpivot (stack) runs over that single row.  viol_ppm via
# _ppm_exact (den = batch rows, far under the ~9.2e15 bound).
# +400000 clears the largest sf's id space and every other op's
# synthesized-variant slot (the pass-12 rule).
# --------------------------------------------------------------------------

DQ_OFFSET = 400000
DQ_CORRUPT_MOD = 83
DQ_VALID_LANGS = ("de", "en", "es", "fr", "zh")


def dq_landing(d):
    """base ∪ planted corrupt variants — the landing batch under test.
    Shared by the batch op and the streaming twin (q_stream_dq), so
    the two surfaces can never test different batches."""
    corrupt = d.filter(F.col("doc_id") % DQ_CORRUPT_MOD == 0).select(
        (F.col("doc_id") + DQ_OFFSET).alias("doc_id"),
        "text",
        F.lit("xx").alias("lang"),
        (F.col("n_chars") + 7).alias("n_chars"),
    )
    return d.unionByName(corrupt)


def dq_rule_aggs():
    """The five rule sums + row count as agg expressions — the ONE
    definition of the rule set (batch .agg() and the streaming global
    aggregate both consume it; SQL_DQ_CHECKS is the oracle mirror)."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("v_null"),
        F.sum(
            F.when(F.col("text").isNotNull() & (F.length("text") == 0), 1)
            .otherwise(0)
        ).alias("v_empty"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("v_nchars"),
        F.sum(
            F.when(~F.col("lang").isin(*DQ_VALID_LANGS), 1).otherwise(0)
        ).alias("v_lang"),
        F.sum(F.when(F.col("doc_id") < 0, 1).otherwise(0)).alias("v_neg"),
    ]


def dq_report(a):
    """Rule-grain unpivot + exact-ppm rates over the 1-row rule-sums
    aggregate (shared batch/stream — same output schema, same oracle)."""
    rules = a.selectExpr(
        "n_rows",
        "stack(5, 'null_text', v_null, 'empty_text', v_empty,"
        " 'nchars_mismatch', v_nchars, 'invalid_lang', v_lang,"
        " 'negative_doc_id', v_neg) AS (rule, n_viol)",
    )
    return rules.select(
        "rule",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_viol").cast("bigint").alias("n_viol"),
        F.expr(_ppm_exact("n_viol", "n_rows", "div"))
        .cast("bigint")
        .alias("viol_ppm"),
    )


def dq_checks(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text", "lang", "n_chars")
    return dq_report(dq_landing(d).agg(*dq_rule_aggs()))


def _sql_dq_checks() -> str:
    langs = ", ".join(f"'{x}'" for x in DQ_VALID_LANGS)
    return f"""
WITH batch AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + {DQ_OFFSET}, text, 'xx', n_chars + 7
  FROM documents WHERE doc_id % {DQ_CORRUPT_MOD} = 0
),
a AS (
  SELECT count(*) AS n_rows,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v_null,
         sum(CASE WHEN text IS NOT NULL AND length(text) = 0
                  THEN 1 ELSE 0 END) AS v_empty,
         sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
           AS v_nchars,
         sum(CASE WHEN lang NOT IN ({langs}) THEN 1 ELSE 0 END) AS v_lang,
         sum(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS v_neg
  FROM batch
),
r AS (
  SELECT 'null_text' AS rule, n_rows, v_null AS n_viol FROM a
  UNION ALL SELECT 'empty_text', n_rows, v_empty FROM a
  UNION ALL SELECT 'nchars_mismatch', n_rows, v_nchars FROM a
  UNION ALL SELECT 'invalid_lang', n_rows, v_lang FROM a
  UNION ALL SELECT 'negative_doc_id', n_rows, v_neg FROM a
)
SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_viol AS BIGINT) AS n_viol,
       CAST({_ppm_exact('n_viol', 'n_rows', '//')} AS BIGINT) AS viol_ppm
FROM r
"""


SQL_DQ_CHECKS = _sql_dq_checks()


# --------------------------------------------------------------------------
# skyline_pareto — the Pareto frontier (skyline) over two integer doc
# metrics (Börzsönyi et al. 2001, "The Skyline Operator"): the multi-
# objective data-selection primitive — "the docs no other doc beats on
# BOTH length and lexical diversity" is the natural shortlist when two
# quality axes trade off and no scalar weighting is agreed yet.
# Metrics: n_tok (maximize — training-token mass) and div_ppm =
# distinct-token ratio in exact ppm (maximize — vocabulary richness);
# naturally anti-correlated, so the frontier is non-trivial.
# Dominance is STRICT (≥ on both, > on at least one): exact (x, y)
# ties are mutually non-dominating and all survive.
#
# Algorithm = the distributed two-pass: (1) per-md5-bucket LOCAL
# skyline — a point is dominated iff max(y over x' > x) ≥ y (a RANGE
# window frame keyed on x) or max(y over x-ties) > y; (2) the tiny
# union of local survivors (any global-frontier point is locally
# non-dominated, so pass 1 never loses an answer) gets the SAME filter
# globally.  The global window is partition-less by design — it runs
# over candidate-grain rows only (Σ local frontiers, ~O(buckets·log n)
# expected), never the corpus; bucket count is the pass-1 parallelism
# dial.  All comparisons integer-exact (_ppm_exact staging).
# --------------------------------------------------------------------------

SKY_BUCKETS = 8


def _sky_metrics(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", toks(F.col("text")).alias("_tk")
    )
    return d.select(
        "doc_id",
        F.size("_tk").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("_tk")).cast("bigint").alias("_nd"),
    ).select(
        "doc_id",
        "n_tok",
        F.expr(_ppm_exact("_nd", "n_tok", "div")).cast("bigint")
        .alias("div_ppm"),
        (md5i32(F.col("doc_id").cast("string")) % SKY_BUCKETS).alias("_bk"),
    )


def _sky_filter(df, part_cols):
    wgt = (
        Window.partitionBy(*part_cols).orderBy(F.asc("n_tok"))
        .rangeBetween(1, Window.unboundedFollowing)
    )
    weq = Window.partitionBy(*part_cols, "n_tok")
    return (
        df.withColumn("_mgt", F.max("div_ppm").over(wgt))
        .withColumn("_meq", F.max("div_ppm").over(weq))
        .filter(
            (F.col("_mgt").isNull() | (F.col("_mgt") < F.col("div_ppm")))
            & (F.col("_meq") == F.col("div_ppm"))
        )
        .drop("_mgt", "_meq")
    )


def skyline_pareto(spark, sf_dir):
    m = _sky_metrics(spark, sf_dir)
    cand = _sky_filter(m, ["_bk"]).select("doc_id", "n_tok", "div_ppm")
    return _sky_filter(cand, []).select("doc_id", "n_tok", "div_ppm")


def _sql_skyline() -> str:
    bk = DUCK_MD5I32.format(x="CAST(doc_id AS VARCHAR)")
    sky_pred = "(mgt IS NULL OR mgt < div_ppm) AND meq = div_ppm"
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
m0 AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
              CAST(len(list_distinct(tk)) AS BIGINT) AS nd
       FROM d),
m AS (SELECT doc_id, n_tok,
             CAST({_ppm_exact('nd', 'n_tok', '//')} AS BIGINT) AS div_ppm,
             {bk} % {SKY_BUCKETS} AS bk
      FROM m0),
loc AS (
  SELECT *,
         max(div_ppm) OVER (PARTITION BY bk ORDER BY n_tok
                            RANGE BETWEEN 1 FOLLOWING
                            AND UNBOUNDED FOLLOWING) AS mgt,
         max(div_ppm) OVER (PARTITION BY bk, n_tok) AS meq
  FROM m),
cand AS (SELECT doc_id, n_tok, div_ppm FROM loc WHERE {sky_pred}),
g AS (
  SELECT *,
         max(div_ppm) OVER (ORDER BY n_tok
                            RANGE BETWEEN 1 FOLLOWING
                            AND UNBOUNDED FOLLOWING) AS mgt,
         max(div_ppm) OVER (PARTITION BY n_tok) AS meq
  FROM cand)
SELECT doc_id, n_tok, div_ppm FROM g WHERE {sky_pred}
"""


SQL_SKYLINE_PARETO = _sql_skyline()


# --------------------------------------------------------------------------
# skipgram_pairs — word2vec SGNS training-pair generation (Mikolov et
# al. 2013): the (center, context, label) relation an embedding
# trainer consumes — positives from a ±SG_WINDOW token window,
# SG_NEG_K deterministic NEGATIVE samples per center occurrence drawn
# from the unigram distribution (plain unigram for cross-engine
# exactness; the classic count^0.75 damping is a float pow whose last
# ulp differs between engines at integer boundaries — documented
# swap-in).  A negative may collide with a true context (classic SGNS
# accepts this).  Emitted aggregated to (center, context, label,
# n_pairs) grain — the trainer's input is the weighted pair table.
#
# The scale mechanisms, all reused from audited precedents:
# - context extraction is a NARROW per-row expression (F.get over the
#   bound token array — never a positions self-join, whose unfiltered
#   per-doc fan-out is len² before the |i−j|≤W filter);
# - the vocabulary interval table [lo, hi) comes from the TWO-PASS
#   SHARD REBASE (md5-bucket cumsum + 8-row base window — the
#   vocab_dense_ids pattern; a global ORDER BY token window is the
#   single-partition trap at 10^8-token vocabularies);
# - weighted sampling = md5 draw in [0, Wtot) resolved by the
#   BUCKETED range join (coarse grid cell = value div G with
#   G ≈ Wtot/V, intervals exploded over the ≤2V cells they span,
#   equi-join + post-filter — the q_range_join rewrite; a raw
#   lo ≤ r < hi join is a BroadcastNestedLoopJoin).
# --------------------------------------------------------------------------

SG_WINDOW = 2
SG_NEG_K = 2
SG_BUCKETS = 8


def skipgram_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", toks(F.col("text")).alias("_tk")
    )
    t = d.select(
        "doc_id", "_tk", F.posexplode("_tk").alias("p0", "center")
    )
    # vocabulary intervals via the shard-rebased cumsum
    cnt = (
        t.groupBy("center").agg(F.count("*").cast("bigint").alias("w"))
        .withColumn("bk", md5i32(F.col("center")) % SG_BUCKETS)
    )
    wcum = Window.partitionBy("bk").orderBy("center").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    incum = cnt.withColumn("cum", F.sum("w").over(wcum))
    bt = incum.groupBy("bk").agg(F.sum("w").alias("bw"))
    wbase = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, -1
    )  # SG_BUCKETS rows
    bases = bt.withColumn(
        "base", F.coalesce(F.sum("bw").over(wbase), F.lit(0))
    ).select("bk", "base")
    vocab = (
        incum.join(F.broadcast(bases), "bk")
        .select(
            "center",
            (F.col("base") + F.col("cum") - F.col("w")).alias("lo"),
            (F.col("base") + F.col("cum")).alias("hi"),
        )
        .localCheckpoint()  # feeds stats + the interval explode
    )
    stats = vocab.agg(
        F.max("hi").alias("wtot"), F.count("*").alias("vsz")
    )
    # positives: contexts at offsets ±1..±SG_WINDOW via 0-based F.get
    # (out-of-bounds -> NULL; element_at would index from the END on
    # negative positions — the classic wraparound bug)
    offs = [o for o in range(-SG_WINDOW, SG_WINDOW + 1) if o != 0]
    ctxs = F.array(*[F.get("_tk", F.col("p0") + o) for o in offs])
    pos = (
        t.select(
            "center", F.explode(F.filter(ctxs, lambda c: c.isNotNull()))
            .alias("context")
        )
        .groupBy("center", "context")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select("center", "context", F.lit(1).alias("label"), "n_pairs")
    )
    # negatives: SG_NEG_K md5 draws per center occurrence -> bucketed
    # range join into the vocabulary intervals
    draws = (
        t.select("doc_id", "p0", "center")
        .crossJoin(F.broadcast(stats))
        .select(
            "center",
            "wtot",
            "vsz",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(SG_NEG_K)),
                    lambda k: md5i60(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.col("p0").cast("string"),
                            k.cast("string"),
                        )
                    )
                    % F.col("wtot"),
                )
            ).alias("r"),
        )
        .withColumn("gb", F.expr("r div (greatest(1, wtot div vsz))"))
    )
    iv = (
        vocab.crossJoin(F.broadcast(stats))
        .select(
            F.col("center").alias("context"),
            "lo",
            "hi",
            F.explode(
                F.sequence(
                    F.expr("lo div (greatest(1, wtot div vsz))"),
                    F.expr("(hi - 1) div (greatest(1, wtot div vsz))"),
                )
            ).alias("gb"),
        )
    )
    # NOTE: no broadcast hint — the interval table is vocabulary-sized
    # (~2V exploded rows), which at a 10^8-token vocabulary is far
    # past any broadcast ceiling; the gb equi-join lets Catalyst/AQE
    # pick broadcast at small V and shuffle-hash at large V
    neg = (
        draws.join(iv, "gb")
        .filter((F.col("r") >= F.col("lo")) & (F.col("r") < F.col("hi")))
        .groupBy("center", "context")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select("center", "context", F.lit(0).alias("label"), "n_pairs")
    )
    return pos.unionByName(neg)


def _sql_skipgram() -> str:
    h60 = DUCK_MD5I60.format(
        x="CAST(doc_id AS VARCHAR) || ':' || CAST(p0 AS VARCHAR)"
          " || ':' || CAST(k AS VARCHAR)"
    )
    bk = DUCK_MD5I32.format(x="center")
    offs = [o for o in range(-SG_WINDOW, SG_WINDOW + 1) if o != 0]
    ctx_elems = ", ".join(
        f"CASE WHEN p0 + {o} BETWEEN 0 AND len(tk) - 1"
        f" THEN tk[p0 + {o} + 1] END"
        for o in offs
    )
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
t AS (
  SELECT doc_id, tk, generate_subscripts(tk, 1) - 1 AS p0,
         unnest(tk) AS center
  FROM d
),
cnt AS (
  SELECT center, CAST(count(*) AS BIGINT) AS w, {bk} % {SG_BUCKETS} AS bk
  FROM t GROUP BY center
),
incum AS (
  SELECT *, sum(w) OVER (PARTITION BY bk ORDER BY center
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum
  FROM cnt
),
bt AS (SELECT bk, sum(w) AS bw FROM incum GROUP BY bk),
bases AS (
  SELECT bk, coalesce(sum(bw) OVER (ORDER BY bk
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS base
  FROM bt
),
vocab AS (
  SELECT center, CAST(base + cum - w AS BIGINT) AS lo,
         CAST(base + cum AS BIGINT) AS hi
  FROM incum JOIN bases USING (bk)
),
stats AS (SELECT max(hi) AS wtot, count(*) AS vsz FROM vocab),
pos AS (
  SELECT center, context, CAST(1 AS INT) AS label,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM (
    SELECT center, unnest(list_filter([{ctx_elems}], c -> c IS NOT NULL))
             AS context
    FROM t
  )
  GROUP BY 1, 2
),
draws AS (
  SELECT center, {h60} % wtot AS r, wtot, vsz
  FROM t, stats, UNNEST(range(1, {SG_NEG_K} + 1)) u(k)
),
iv AS (
  SELECT vocab.center AS context, lo, hi,
         unnest(range(lo // greatest(1, wtot // vsz),
                      (hi - 1) // greatest(1, wtot // vsz) + 1)) AS gb
  FROM vocab, stats
),
neg AS (
  SELECT d2.center, iv.context, CAST(0 AS INT) AS label,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM (SELECT center, r, r // greatest(1, wtot // vsz) AS gb
        FROM draws) d2
  JOIN iv USING (gb)
  WHERE d2.r >= iv.lo AND d2.r < iv.hi
  GROUP BY 1, 2
)
SELECT center, context, label, n_pairs FROM pos
UNION ALL
SELECT center, context, label, n_pairs FROM neg
"""


SQL_SKIPGRAM_PAIRS = _sql_skipgram()


# --------------------------------------------------------------------------
# prefix_cache_stats — shared-prefix mass at exponential depths (the
# prefix-caching savings estimate behind vLLM/SGLang-style serving
# and dataloader prompt dedup): for k ∈ {1,2,4,8} leading tokens,
# how many documents share a k-prefix with another document, and how
# many tokens a cache-the-prefix-once policy saves — saved(k) =
# Σ_{groups ≥2} (n_docs − 1)·k.  Rising saved mass at deep k means
# templated prompts (the SFT/agent-log signature); flat means organic
# text.  The depth ladder is the path_rollup idea applied to TOKEN
# space.
#
# Scale shape: one corpus scan, a bounded ×4 level explode (docs
# shorter than k contribute no row at that k), md5-keyed (k, prefix)
# rollup that partial-aggregates map-side (prefix text itself never
# shuffles — only its 60-bit hash), k-grain second rollup, and a
# 1-row broadcast token total for the exact ppm.
# --------------------------------------------------------------------------

PREFIX_KS = (1, 2, 4, 8)


def prefix_cache_stats(spark, sf_dir):
    # checkpointed once: the tokenized projection feeds BOTH the token
    # total and the level explode (the dist_drift rule — without the
    # cut the corpus is scanned and re-tokenized twice)
    d = _docs(spark, sf_dir).select(
        "doc_id", toks(F.col("text")).alias("_tk")
    ).localCheckpoint()
    tot = d.agg(F.sum(F.size("_tk")).cast("bigint").alias("n_tok_total"))
    lv = d.select(
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.when(
                            F.size("_tk") >= k,
                            F.struct(
                                F.lit(k).alias("k"),
                                md5i60(
                                    F.concat_ws(" ", F.slice("_tk", 1, k))
                                ).alias("ph"),
                            ),
                        )
                        for k in PREFIX_KS
                    ]
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("s")
    ).select("s.k", "s.ph")
    grp = lv.groupBy("k", "ph").agg(F.count("*").alias("nd"))
    agg = grp.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("nd") >= 2, F.col("nd")).otherwise(0))
        .cast("bigint").alias("n_shared_docs"),
        F.sum(
            F.when(F.col("nd") >= 2, (F.col("nd") - 1) * F.col("k"))
            .otherwise(0)
        ).cast("bigint").alias("saved_tokens"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_groups",
        "n_shared_docs",
        "saved_tokens",
        F.expr(_ppm_exact("saved_tokens", "n_tok_total", "div"))
        .cast("bigint").alias("saved_ppm"),
    )


def _sql_prefix_cache() -> str:
    h = DUCK_MD5I60.format(x="array_to_string(tk[1:k], ' ')")
    ks = ", ".join(str(k) for k in PREFIX_KS)
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
tot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n_tok_total FROM d),
lv AS (
  SELECT k, {h} AS ph
  FROM d, UNNEST([{ks}]) u(k)
  WHERE len(tk) >= k
),
grp AS (SELECT k, ph, count(*) AS nd FROM lv GROUP BY 1, 2),
agg AS (
  SELECT k,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(CASE WHEN nd >= 2 THEN nd ELSE 0 END) AS BIGINT)
           AS n_shared_docs,
         CAST(sum(CASE WHEN nd >= 2 THEN (nd - 1) * k ELSE 0 END) AS BIGINT)
           AS saved_tokens
  FROM grp GROUP BY 1
)
SELECT k, n_groups, n_shared_docs, saved_tokens,
       CAST({_ppm_exact('saved_tokens', 'n_tok_total', '//')} AS BIGINT)
         AS saved_ppm
FROM agg, tot
"""


SQL_PREFIX_CACHE_STATS = _sql_prefix_cache()


# --------------------------------------------------------------------------
# zipf_fit — Zipf's-law slope of the corpus frequency distribution
# (the one-number corpus-health diagnostic every scaling-laws paper
# plots: natural text sits near slope −1; a slope collapsing toward 0
# means boilerplate/dedup failure, a steep slope means a degenerate
# vocabulary): OLS fit of ln(freq) against ln(rank) over the top
# {V} terms.  The trend_ols integer discipline: x = ⌊ln(rank)·1e3⌋
# (milli), y = ⌊ln(cf)·1e6⌋ (micro) — floored to integers BEFORE the
# normal-equation sums, so num/den are exact bigints and the slope is
# sign·(|num|·1000 div den) (the pass-21 signed form; slope is
# negative by nature).  Headroom: rank ≤ {V} ⇒ x ≤ 4606; cf ≤ 1e12 ⇒
# y ≤ 2.8e7; den = n·Σx² − (Σx)² ≤ 2.2e11 and |num|·1000 ≤ ~2.5e18 —
# under 2^63 with the x-in-milli choice (micro x would overflow the
# _ppm staging bound, which is WHY x and y carry different scales).
#
# Scale shape: term counts partial-aggregate to vocab grain; top-V is
# a distributed TakeOrderedAndProject; the rank window runs over the
# ≤{V}-row result (the _bm25_scores convention); the fit is a 1-row
# aggregate.
# --------------------------------------------------------------------------

ZIPF_TOPV = 100


def zipf_fit(spark, sf_dir):
    d = _docs(spark, sf_dir)
    cf = (
        d.select(F.explode(toks(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("cf"))
    )
    top = cf.orderBy(F.desc("cf"), F.asc("term")).limit(ZIPF_TOPV)
    w = Window.orderBy(F.desc("cf"), F.asc("term"))  # <= ZIPF_TOPV rows
    xy = top.withColumn("rnk", F.row_number().over(w)).select(
        F.floor(F.log(F.col("rnk").cast("double")) * F.lit(1000.0))
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("cf").cast("double")) * F.lit(1000000.0))
        .cast("bigint")
        .alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = s.select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    return n.select(
        F.col("n").alias("n_terms"),
        "num",
        "den",
        # greatest(den, 1): a single-distinct-term corpus has den = 0
        # and bare division returns NULL in BOTH engines (measured:
        # DuckDB 1.0.0 `x // 0` is NULL like Spark non-ANSI div) — the
        # repo's zero-den-guard convention pins the degenerate to 0
        F.expr(
            "CASE WHEN num < 0 THEN -((-num) * 1000 div greatest(den, 1))"
            "     ELSE (num * 1000) div greatest(den, 1) END"
        )
        .cast("bigint")
        .alias("slope_micro"),
    )


SQL_ZIPF_FIT = f"""
WITH cf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cf
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
),
top AS (SELECT term, cf FROM cf ORDER BY cf DESC, term LIMIT {ZIPF_TOPV}),
xy AS (
  SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000.0) AS BIGINT) AS x,
         CAST(floor(ln(CAST(cf AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
  FROM (SELECT cf, row_number() OVER (ORDER BY cf DESC, term) AS rnk
        FROM top)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
),
f AS (
  SELECT n, CAST(n * sxy - sx * sy AS BIGINT) AS num,
         CAST(n * sxx - sx * sx AS BIGINT) AS den
  FROM s
)
SELECT n AS n_terms, num, den,
       CAST(CASE WHEN num < 0 THEN -((-num) * 1000 // greatest(den, 1))
                 ELSE (num * 1000) // greatest(den, 1) END AS BIGINT)
         AS slope_micro
FROM f
"""


# --------------------------------------------------------------------------
# sitemap_parse — XML sitemap render→parse round trip (the crawl-
# discovery primitive next to robots_filter / crawl_frontier): each
# (source, chunk) renders its pages as a <urlset> sitemap document —
# capped at SITEMAP_CAP urls per file, the real-protocol 50k-url
# sharding rule scaled to the fixture — and the op then PARSES the
# rendered XML back with xpath() and re-explodes.  What the oracle
# checks is losslessness: the DuckDB side computes the url/lastmod
# relation DIRECTLY (no XML at all), so any escaping, ordering, or
# chunk-assignment loss in the render→xpath loop hash-fails.  URL
# formula single-sourced from _domain_url (the domain_stats /
# crawl_frontier convention); lastmod is pure calendar math
# (date 2025-01-01 + doc_id % 365 days, identical in both engines).
#
# Scale shape (100 TB): ONE groupBy((source, chunk)) — chunk count
# grows with corpus size, so the key is growing (never
# one-mega-string-per-domain: the cap bounds every rendered file);
# the per-chunk rank window partitions on source (the per-domain
# page enumeration a sitemap inherently needs); xpath + explode are
# narrow above the rollup.
# --------------------------------------------------------------------------

SITEMAP_CAP = 100  # urls per sitemap file (the 50k protocol rule, scaled)


def sitemap_parse(spark, sf_dir):
    d = _docs(spark, sf_dir)
    lastmod = F.date_format(
        F.date_add(
            F.lit("2025-01-01").cast("date"), (F.col("doc_id") % 365).cast("int")
        ),
        "yyyy-MM-dd",
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    rows = (
        d.select(
            "source",
            "doc_id",
            _domain_url().alias("url"),
            lastmod.alias("lastmod"),
        )
        .withColumn("rk", F.row_number().over(w))
        .withColumn("chunk", F.expr(f"CAST((rk - 1) div {SITEMAP_CAP} AS INT)"))
    )
    xml = rows.groupBy("source", "chunk").agg(
        F.concat(
            F.lit("<urlset>"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "url", "lastmod"))
                    ),
                    lambda s: F.concat(
                        F.lit("<url><loc>"),
                        s["url"],
                        F.lit("</loc><lastmod>"),
                        s["lastmod"],
                        F.lit("</lastmod></url>"),
                    ),
                ),
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    parsed = xml.select(
        "source",
        "chunk",
        F.expr("xpath(xml, '/urlset/url/loc/text()')").alias("locs"),
        F.expr("xpath(xml, '/urlset/url/lastmod/text()')").alias("mods"),
    )
    return parsed.select(
        "source",
        "chunk",
        F.posexplode(F.arrays_zip("locs", "mods")).alias("pos", "z"),
    ).select(
        "source",
        "chunk",
        F.col("pos").cast("int").alias("pos"),
        F.col("z.locs").alias("url"),
        F.col("z.mods").alias("lastmod"),
    )


SQL_SITEMAP_PARSE = f"""
WITH r AS (
  SELECT source,
         'http://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END
           || source || '-site.'
           || ['com', 'org', 'net'][CAST(doc_id % 3 + 1 AS INT)]
           || '/page/' || CAST(doc_id AS VARCHAR) AS url,
         strftime(DATE '2025-01-01' + INTERVAL (doc_id % 365) DAY,
                  '%Y-%m-%d') AS lastmod,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
  FROM documents
)
SELECT source,
       CAST((rk - 1) // {SITEMAP_CAP} AS INT) AS chunk,
       CAST((rk - 1) % {SITEMAP_CAP} AS INT) AS pos,
       url, lastmod
FROM r
"""


QUERIES = {
    "sitemap_parse": sitemap_parse,
    "zipf_fit": zipf_fit,
    "prefix_cache_stats": prefix_cache_stats,
    "skipgram_pairs": skipgram_pairs,
    "skyline_pareto": skyline_pareto,
    "pii_scrub": pii_scrub,
    "text_normalize": text_normalize,
    "dehyphenate": dehyphenate,
    "url_normalize": url_normalize,
    "url_dedup": url_dedup,
    "line_dedup": line_dedup,
    "corpus_stats": corpus_stats,
    "mixture_sample": mixture_sample,
    "temperature_sample": temperature_sample,
    "shard_manifest": shard_manifest,
    "chunk_sliding": chunk_sliding,
    "sample_stratified": sample_stratified,
    "train_split": train_split,
    "ngram_topk": ngram_topk,
    "tfidf_topk": tfidf_topk,
    "q_compact_plan": q_compact_plan,
    "pack_sequences": pack_sequences,
    "pack_stats": pack_stats,
    "pack_interleaved": pack_interleaved,
    "decontaminate_ngram": decontaminate_ngram,
    "decontaminate_bloom": decontaminate_bloom,
    "shuffle_deterministic": shuffle_deterministic,
    "c4_line_filter": c4_line_filter,
    "dsir_select": dsir_select,
    "domain_stats": domain_stats,
    "crawl_frontier": crawl_frontier,
    "recrawl_schedule": recrawl_schedule,
    "split_leakage": split_leakage,
    "domain_authority": domain_authority,
    "robots_filter": robots_filter,
    "link_graph": link_graph,
    "anchor_text": anchor_text,
    "zorder_plan": zorder_plan,
    "span_corruption": span_corruption,
    "weighted_sample": weighted_sample,
    "site_boilerplate": site_boilerplate,
    "k_anonymity": k_anonymity,
    "dq_checks": dq_checks,
    "license_detect": license_detect,
    "token_budget_cap": token_budget_cap,
    "path_rollup": path_rollup,
    "vocab_dense_ids": vocab_dense_ids,
}

ORACLE_SQL = {
    "prefix_cache_stats": SQL_PREFIX_CACHE_STATS,
    "skipgram_pairs": SQL_SKIPGRAM_PAIRS,
    "skyline_pareto": SQL_SKYLINE_PARETO,
    "span_corruption": SQL_SPAN_CORRUPTION,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "decontaminate_ngram": SQL_DECONTAMINATE,
    "decontaminate_bloom": SQL_DECONTAMINATE,
    "pii_scrub": SQL_PII_SCRUB,
    "text_normalize": SQL_TEXT_NORMALIZE,
    "dehyphenate": SQL_DEHYPHENATE,
    "url_normalize": SQL_URL_NORMALIZE,
    "url_dedup": SQL_URL_DEDUP,
    "line_dedup": SQL_LINE_DEDUP,
    "corpus_stats": SQL_CORPUS_STATS,
    "chunk_sliding": SQL_CHUNK_SLIDING,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "train_split": SQL_TRAIN_SPLIT,
    "ngram_topk": SQL_NGRAM_TOPK,
    "tfidf_topk": SQL_TFIDF_TOPK,
    "q_compact_plan": SQL_COMPACT_PLAN,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "pack_stats": SQL_PACK_STATS,
    "pack_interleaved": SQL_PACK_INTERLEAVED,
    "shuffle_deterministic": SQL_SHUFFLE_DETERMINISTIC,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "temperature_sample": SQL_TEMPERATURE_SAMPLE,
    "shard_manifest": SQL_SHARD_MANIFEST,
    "c4_line_filter": SQL_C4_LINE_FILTER,
    "dsir_select": SQL_DSIR_SELECT,
    "domain_stats": SQL_DOMAIN_STATS,
    "sitemap_parse": SQL_SITEMAP_PARSE,
    "zipf_fit": SQL_ZIPF_FIT,
    "crawl_frontier": SQL_CRAWL_FRONTIER,
    "recrawl_schedule": SQL_RECRAWL_SCHEDULE,
    "split_leakage": SQL_SPLIT_LEAKAGE,
    "domain_authority": SQL_DOMAIN_AUTHORITY,
    "robots_filter": SQL_ROBOTS_FILTER,
    "link_graph": SQL_LINK_GRAPH,
    "anchor_text": SQL_ANCHOR_TEXT,
    "zorder_plan": SQL_ZORDER_PLAN,
    "site_boilerplate": SQL_SITE_BOILERPLATE,
    "k_anonymity": SQL_K_ANONYMITY,
    "dq_checks": SQL_DQ_CHECKS,
    "license_detect": SQL_LICENSE_DETECT,
    "token_budget_cap": SQL_TOKEN_BUDGET_CAP,
    "path_rollup": SQL_PATH_ROLLUP,
    "vocab_dense_ids": SQL_VOCAB_DENSE_IDS,
}
