"""Physical-plan audit: assert that the plans Catalyst produces for the
headline operators are the plans we designed for (SURVEY.md §4) —
pushdown reaching the scan, broadcast where a side is small, whole-
stage codegen on the hot relational paths, and no shuffle on the
extraction fast path.

Checks (printed PASS/FAIL, exit 1 on any FAIL): scan pruning/pushdown,
broadcast join selection, map-side partial aggregation, whole-stage
codegen on the final adaptive plan (>=2 codegen'd operators after
execution), the zero-Exchange extraction fast path (the 100 TB
invariant: document bytes never shuffle), top-k as
TakeOrderedAndProject, zero-Exchange bucketed co-located join,
single-shuffle as-of join, zero-Exchange corpus-prep flat-maps,
partial-agg + WindowGroupLimit pushdown for the top-k aggregations,
broadcast idf join, and <=2-Exchange window-cumsum planners.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_exchanges_feed_aggregates(p: str) -> tuple[int, bool]:
    """(n_shuffle_exchanges, every one's DIRECT tree child is a
    HashAggregate).  Parses the formatted plan's tree section, where a
    node's direct child is the next line — a structural check, unlike
    comparing plan ids (ids are bottom-up, so `any(agg_id < ex_id)` is
    satisfied by ANY aggregate anywhere in an earlier branch and lets
    a corpus-grain Exchange slip through)."""
    lines = p.split("\n\n")[0].splitlines()
    n_ex, ok = 0, True
    for i, ln in enumerate(lines):
        if re.search(r"\bExchange \(\d+\)", ln) and "BroadcastExchange" not in ln:
            n_ex += 1
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if "HashAggregate" not in child:
                ok = False
    return n_ex, ok


def main() -> int:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("freki-explain-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from freki_spark.queries import QUERIES

    failures: list[str] = []

    def check(name: str, ok: bool, detail: str) -> None:
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {detail}")
        if not ok:
            failures.append(name)

    # 1. filter pushdown + column pruning reach the parquet scan:
    #    the lang predicate appears in PushedFilters, and the wide
    #    `text` column is absent from ReadSchema (pruned at the scan)
    p = plan_of(QUERIES["q_scan_filter"](spark, sf_dir))
    pushed = re.search(r"PushedFilters: \[[^\]]*lang[^\]]*\]", p)
    schema = re.search(r"ReadSchema: [^\n]*", p)
    pruned = schema is not None and "text" not in schema.group(0)
    check(
        "scan_prune",
        bool(pushed) and pruned,
        f"pushed={bool(pushed)} text-column-pruned={pruned}",
    )

    # 2. small dim side is broadcast
    p = plan_of(QUERIES["q_broadcast_join"](spark, sf_dir))
    check("bcast", "BroadcastHashJoin" in p, "BroadcastHashJoin in plan")

    # 3a. map-side combine: partial_* aggregate functions run BEFORE the
    #     exchange, so only pre-aggregated rows shuffle
    df = QUERIES["q_hash_agg"](spark, sf_dir)
    p = plan_of(df)
    # node ids are execution order in `formatted` plans — compare ids,
    # never hard-coded numbers or text positions
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex_ids = [int(m) for m in re.findall(r"Exchange \((\d+)\)", p)]
    partial = (
        "partial_sum" in p and bool(agg_ids and ex_ids) and min(agg_ids) < min(ex_ids)
    )
    n_exchange = len(set(ex_ids))
    check(
        "partial_agg",
        partial and n_exchange == 1,
        f"partial aggregation before the single Exchange (exchanges={n_exchange})",
    )

    # 3b. whole-stage codegen on the agg path.  AQE reports the plan as
    #     AdaptiveSparkPlan isFinalPlan=false until the query has run,
    #     hiding codegen annotations — execute first, then the simple-
    #     mode plan marks codegen'd operators with `*(n)`.
    import contextlib
    import io as _io

    df.collect()
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    final = buf.getvalue()
    n_stars = len(re.findall(r"\*\(\d+\)", final))
    check(
        "codegen",
        "isFinalPlan=true" in final and n_stars >= 2,
        f"codegen'd operators x{n_stars} in final adaptive plan",
    )

    # 5. top-k compiles to TakeOrderedAndProject, not a global sort
    p = plan_of(QUERIES["q_sort_limit_topk"](spark, sf_dir))
    check("topk", "TakeOrderedAndProject" in p, "TakeOrderedAndProject in plan")

    # 6. co-located join: both sides bucketed+sorted on the join key ->
    #    the join itself needs no Exchange and no Sort (the local
    #    stand-in for Iceberg bucket(N, key) at production scale)
    from freki_spark.queries import bucketed_table

    li = bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    o = bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    # at audit scale orders would broadcast (and that'd be right); the
    # merge hint forces the plan shape of the 100 TB case, where
    # neither fact side fits in a broadcast
    p = plan_of(
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("o_orderstatus")
    )
    # the per-partition Sort remains (Spark 3+ no longer propagates
    # per-bucket ordering without a legacy flag); it is linear,
    # spillable and networkless — the Exchange is what matters at scale
    check(
        "bucketed_join",
        "SortMergeJoin" in p and "Exchange" not in p and "Bucketed: true" in p,
        "SMJ with zero Exchange on bucketed scans",
    )

    # 7. as-of join is union+window with exactly ONE shuffle (no
    #    pre-aggregation on a second key, no range-join explosion)
    p = plan_of(QUERIES["q_asof_join"](spark, sf_dir))
    n_ex = len(set(re.findall(r"Exchange \((\d+)\)", p)))
    check("asof_single_shuffle", n_ex == 1 and "Window" in p,
          f"union+window as-of join with exactly one Exchange (found {n_ex})")

    # 8. corpus-prep narrow ops: the chunker and the scrubber are pure
    #    per-row flat-maps — zero Exchange at any corpus size
    for slug in ("chunk_sliding", "pii_scrub", "sample_stratified"):
        p = plan_of(QUERIES[slug](spark, sf_dir))
        check(f"narrow_{slug}", "Exchange" not in p, "no Exchange in plan")

    # 8b. decontaminate_bloom: the candidate prefilter (the stage the
    #    non-candidate corpus majority terminates at) is a narrow
    #    scan-side filter — zero Exchange at any corpus size
    from freki_spark.functions.corpus_prep import (
        _bloom_candidates,
        _bloom_literal,
        _decon_bench,
        _decon_tokens,
    )

    _d = _decon_tokens(spark, sf_dir)
    p = plan_of(_bloom_candidates(_d, _bloom_literal(_decon_bench(_d))))
    check("narrow_decon_bloom_prefilter", "Exchange" not in p,
          "no Exchange in bloom candidate prefilter")

    # 9. ngram_topk: bigram counts partially aggregate map-side (only
    #    (lang, bigram, partial-count) rows shuffle — never raw bigrams)
    #    and the rank<=k filter is pushed below the shuffle as a
    #    WindowGroupLimit, so at most k rows per (lang, partition) move
    p = plan_of(QUERIES["ngram_topk"](spark, sf_dir))

    def node_ids(op: str) -> list[int]:
        return [int(m) for m in re.findall(rf"{op} \((\d+)\)", p)]

    agg, ex, wgl = node_ids("HashAggregate"), node_ids("Exchange"), node_ids(
        "WindowGroupLimit"
    )
    # formatted tree numbers nodes in execution order (leaves lowest)
    ok = (
        "partial_count" in p
        and agg and ex and wgl
        and min(agg) < min(ex)
        and min(wgl) < max(ex)
    )
    check(
        "ngram_partial_agg",
        ok,
        "partial agg + WindowGroupLimit below their Exchanges",
    )

    # 10. tfidf: the vocabulary-sized idf side broadcasts (never a
    #     shuffle join against the tf table), and the per-doc top-k is
    #     WindowGroupLimit-pruned before its shuffle
    p = plan_of(QUERIES["tfidf_topk"](spark, sf_dir))
    check(
        "tfidf_bcast_topk",
        "BroadcastHashJoin" in p and "WindowGroupLimit" in p,
        "broadcast idf join + window group limit",
    )

    # 11a. simhash fingerprint is narrow: every Generate (explode) in
    #      the plan is the SIM_BANDS-element band-array explode — never
    #      a per-bit sequence explode feeding a shuffle
    p = plan_of(QUERIES["dedup_simhash"](spark, sf_dir))
    exploded = re.findall(r"Arguments: explode\(([^\n]*)", p)
    check(
        "simhash_narrow_fp",
        bool(exploded) and all("sequence(" not in e for e in exploded),
        f"{len(exploded)} band explodes, no per-bit sequence explode",
    )

    # 11b. IVF list assignment is narrow: the corpus never shuffles —
    #      no Window, and the only Exchanges are the tiny centroid-agg
    #      branch (SinglePartition) plus its broadcast; zero
    #      hashpartitioning Exchange anywhere in the assignment plan
    from freki_spark.functions.similarity import ivf_assign

    p = plan_of(ivf_assign(spark, sf_dir))
    no_hash_ex = not re.search(r"Arguments: hashpartitioning", p)
    check(
        "ivf_assign_narrow",
        "Window" not in p and no_hash_ex,
        f"no Window, no hashpartitioning Exchange (window={'Window' in p})",
    )

    # 11b2. ngram-jaccard: the shingle table is localCheckpointed before
    #       its four-consumer fan-out (sizes, rare df filter, both sides
    #       of the candidate self-join), so the final plan reads ONLY
    #       the materialized shingles — zero raw parquet scans, the
    #       tokenize+shingle pass never replans (dedup_minhash rule);
    #       pair generation is the rare-shingle equi-join, never a
    #       product, and no Python touches the plan
    p = plan_of(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "ngram_jaccard_checkpointed",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p
        and n_scans == 0,
        f"rare-shingle equi-join, no python; raw scans={n_scans} "
        "(shingle table checkpointed before its 4-consumer fan-out)",
    )

    # 11c. embedding dedup generates candidates from LSH buckets — an
    #      equi-join on the bucket id, never an all-pairs product
    p = plan_of(QUERIES["dedup_embedding_cosine"](spark, sf_dir))
    check(
        "embedding_dedup_bucketed",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        "no CartesianProduct / BroadcastNestedLoopJoin in plan",
    )

    # 11c2. dup_verify_edit confirms band candidates with a bounded
    #       prefix-window Levenshtein — pair generation and both text
    #       fetches are equi-joins, never an all-pairs product, no
    #       python touches the DP (levenshtein is a JVM expression),
    #       and the minhash table is checkpointed before the band
    #       self-join, so the only raw scans left are the two narrow
    #       (doc_id, text) fetches — the shingle+md5 pass never
    #       replans (the dedup_minhash_lsh checkpoint rule)
    p = plan_of(QUERIES["dup_verify_edit"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "dup_verify_edit_bucketed",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p
        and n_scans == 4,
        f"no all-pairs product / python; raw scans={n_scans} "
        "(the two text fetches only, x2 for the base+mutant union in "
        "_near_dup_corpus — minhash pass checkpointed, never replans)",
    )

    # 11d. bitext mining: candidates + kNN neighborhoods come from the
    #      bucket equi-join, never an all-pairs product, and every
    #      window partitions on a corpus-grain growing key (src/tgt id
    #      over bucket-bounded candidates), never a constant key.
    #      The candidate stage is checkpointed before its three-way
    #      fan-out (fwd/bwd/margin), so audit it pre-checkpoint, then
    #      assert the downstream plan reads ONLY the materialized pairs
    #      (zero raw scans — the dedup_incremental check-37 pattern)
    from freki_spark.functions.similarity import _bitext_pairs

    pc = plan_of(_bitext_pairs(spark, sf_dir))
    p = plan_of(QUERIES["bitext_mine"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "bitext_mine_bucketed",
        "CartesianProduct" not in pc
        and "BroadcastNestedLoopJoin" not in pc
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and wins <= {"src_id", "tgt_id"}
        and n_scans == 0,
        f"bucket equi-join candidates; window keys={sorted(wins)}; "
        f"corpus re-scans={n_scans}",
    )

    # 11e. scd2_history: snapshots reduce to (doc_id, t, md5) before
    #      anything moves — no Exchange block carries `text` — and the
    #      run windows + (doc_id, ver) rollup share ONE
    #      hashpartitioning(doc_id) Exchange
    p = plan_of(QUERIES["scd2_history"](spark, sf_dir))
    ex_blocks = re.findall(r"\(\d+\) Exchange.*?(?=\n\(\d+\)|\Z)", p, re.S)
    text_shuffled = any(
        re.search(r"\btext#", b) for b in ex_blocks
    )
    n_ex, _ = shuffle_exchanges_feed_aggregates(p)
    check(
        "scd2_single_exchange_no_text",
        not text_shuffled and n_ex == 1,
        f"text in exchange={text_shuffled}; shuffle exchanges={n_ex}",
    )

    # 11f. preference_pairs: the pairing layer never goes all-pairs —
    #      the within-cluster join is champion-list bounded, the only
    #      nested-loop joins are the component ops' condition-FREE
    #      1-row corpus-stat broadcast crosses (the semantic_pack
    #      convention), and windows partition on list_id (growing
    #      cardinality)
    p = plan_of(QUERIES["preference_pairs"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    check(
        "preference_pairs_bounded",
        "CartesianProduct" not in p
        and not conditioned
        and wins <= {"list_id"},
        f"no all-pairs/conditioned nested join; window keys={sorted(wins)}",
    )

    # 11. window-cumsum planners: the corpus-sized window runs at
    #     (lang, _shard) grain — shard-count parallelism, never one
    #     partition per language — with per-shard bases broadcast back;
    #     total exchanges stay bounded (big path: shard window + final
    #     agg; tiny bases branch: its own two; compact_plan adds one
    #     more for its final (lang, file_bin) rollup)
    for slug in ("q_compact_plan", "pack_sequences"):
        p = plan_of(QUERIES[slug](spark, sf_dir))
        sharded = bool(
            re.search(r"windowspecdefinition\(lang#\d+, _shard#\d+L?, doc_id", p)
        )
        n_ex = len(set(re.findall(r"Exchange \((\d+)\)", p)))
        check(
            f"sharded_cumsum_{slug}",
            sharded and n_ex <= 5,
            f"(lang, _shard)-grain window={sharded}, exchanges={n_ex}",
        )

    # 12. decontamination: the benchmark n-gram set BROADCASTS (an
    #     eval-sized build side — never a shuffle join against the
    #     exploded corpus); the only hashpartitioning Exchanges are the
    #     two phases of the doc_id distinct-count, which carry ONLY
    #     already-bench-matched rows
    p = plan_of(QUERIES["decontaminate_ngram"](spark, sf_dir))
    n_hash_ex = len(re.findall(r"Arguments: hashpartitioning\(doc_id", p))
    no_shuffle_join = "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    check(
        "decon_bcast_semi",
        "BroadcastHashJoin" in p and no_shuffle_join and n_hash_ex <= 2,
        f"broadcast bench join (no shuffle join), post-match hash "
        f"Exchanges={n_hash_ex}",
    )

    # 13. repetition filter: both groupBys partially aggregate map-side
    #     (partial_count before the first Exchange — raw bigram rows
    #     never shuffle unreduced)
    p = plan_of(QUERIES["gopher_repetition"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", p)]
    check(
        "gopher_partial_agg",
        "partial_count" in p and agg and ex and min(agg) < min(ex),
        "partial agg below the first Exchange",
    )

    # 13a2. duplicated-substring detection: the dup-shingle set is
    #       marked back via a LEFT SEMI join (hits carry only
    #       (doc_id, pos), never the shingle text), and the interval
    #       merge is the single doc-grain window pass
    p = plan_of(QUERIES["dup_span_detect"](spark, sf_dir))
    check(
        "dup_span_semi_join",
        "LeftSemi" in p
        and len(re.findall(r"Arguments: hashpartitioning\(doc_id", p)) == 1,
        "left-semi dup marking + one doc-grain window Exchange",
    )

    # 13b. k-NN graph candidates come from the bucket equi-join — an
    #      all-corpus op that must never degrade to an all-pairs product
    p = plan_of(QUERIES["knn_graph"](spark, sf_dir))
    check(
        "knn_graph_bucket_join",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        "bucket equi-join, no all-pairs product",
    )

    # 13c. URL normalization is a narrow regex chain; the per-domain
    #      count joins back via broadcast (domain cardinality is tiny)
    p = plan_of(QUERIES["url_normalize"](spark, sf_dir))
    check(
        "url_normalize_bcast_counts",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
        "narrow canon chain + broadcast per-domain counts",
    )

    # 14. PQ encode is narrow (same invariant as ivf_assign): the
    #     corpus never shuffles — no Window, no hashpartitioning
    #     Exchange; the only Exchange is the tiny codebook-agg branch
    from freki_spark.functions.similarity import pq_encode

    p = plan_of(pq_encode(spark, sf_dir))
    check(
        "pq_encode_narrow",
        "Window" not in p and not re.search(r"Arguments: hashpartitioning", p),
        "no Window, no hashpartitioning Exchange in the encode plan",
    )

    # 15. BPE encode is a ZERO-Exchange codegen'd map — the merge table
    #     lives in the plan, the corpus never shuffles
    p = plan_of(QUERIES["bpe_encode"](spark, sf_dir))
    check(
        "bpe_encode_narrow",
        "Exchange" not in p and "codegen id" in p,
        "zero Exchange (higher-order-fn Project sits on a codegen'd scan)",
    )

    # 16. binary media dedup shuffles digests, never blobs: the window
    #     Exchange's hash key is the digest and the content column is
    #     projected away before it (no 'content' below the Exchange
    #     subtree — only the scan side may mention it)
    p = plan_of(QUERIES["media_dedup"](spark, sf_dir))
    ex_args = re.findall(r"Arguments: hashpartitioning\((\w+)", p)
    win_inputs = re.findall(r"Window.*\n(?:.*\n){0,6}?.*Input \[\d+\]: \[([^\]]*)\]", p)
    check(
        "media_dedup_digest_shuffle",
        ex_args == ["ck"]
        and bool(win_inputs)  # regex must MATCH — empty would pass vacuously
        and all("content" not in w for w in win_inputs),
        f"hash keys={ex_args}, window inputs={win_inputs or 'NOT FOUND'}",
    )

    # 17. salted join: the join is a SHUFFLED join (the pattern's
    #     premise) and its keys include the salt column on both sides
    p = plan_of(QUERIES["q_salted_join"](spark, sf_dir))
    shuffled = "ShuffledHashJoin" in p or "SortMergeJoin" in p
    salt_keyed = bool(re.search(r"Left keys \[2\]: \[user_id#\d+L?, salt#\d+\]", p))
    check(
        "salted_join_shape",
        shuffled and salt_keyed and "BroadcastHashJoin" not in p,
        f"shuffled join on (user_id, salt): {salt_keyed}",
    )

    # 18. batch sessionization: both windows share one (user_id) hash
    #     Exchange + one Sort (the islands pass), and the session agg
    #     adds NO further exchange — hash(user_id) already satisfies
    #     the (user_id, sess_no) grouping, so ONE Exchange total
    p = plan_of(QUERIES["q_sessionize_batch"](spark, sf_dir))
    n_user_ex = len(re.findall(r"Arguments: hashpartitioning\(user_id", p))
    n_sort = len(re.findall(r"\bSort \(", p))
    check(
        "sessionize_single_island_pass",
        n_user_ex == 1 and n_sort == 1 and p.count("Window") >= 2,
        f"user_id Exchanges={n_user_ex}, Sorts={n_sort} for 2 windows",
    )

    # 18b. funnel_conversion: ONE user-grain Exchange (conditional agg
    #      computes all stage times in a single pass — no per-stage
    #      rescans or self-joins) + the single-partition rollup; the
    #      3-stage report explodes from a literal, no Join anywhere
    p = plan_of(QUERIES["funnel_conversion"](spark, sf_dir))
    n_user_ex = len(re.findall(r"Arguments: hashpartitioning\(user_id", p))
    check(
        "funnel_single_user_pass",
        n_user_ex == 1
        and "Join" not in p
        and "Window" not in p
        and "Python" not in p,
        f"user_id Exchanges={n_user_ex}; no Join/Window/python",
    )

    # 18c. retention_cohort: cohort assignment + activity + cells are
    #      partial-aggregated equi-join stages (no all-pairs product),
    #      the tiny cohort-size table broadcast-joins onto cells, and
    #      the (user, week) + cohort tables are checkpointed before
    #      their two-consumer fan-outs — zero raw corpus scans in the
    #      final plan (the dist_drift rule)
    p = plan_of(QUERIES["retention_cohort"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "retention_cohort_broadcast_sizes",
        "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Window" not in p
        and "Python" not in p
        and n_scans == 0,
        f"broadcast size join; no all-pairs product / Window / python; "
        f"corpus re-scans={n_scans}",
    )

    # 18d. event_transitions: the matrix pass is ONE user-grain
    #      Exchange+Sort (audited pre-checkpoint); the checkpointed
    #      matrix then feeds totals + broadcast join with ZERO raw
    #      corpus scans downstream (the dist_drift fan-out rule)
    from freki_spark.queries import _transition_matrix

    pm = plan_of(_transition_matrix(spark, sf_dir))
    n_user_ex = len(re.findall(r"Arguments: hashpartitioning\(user_id", pm))
    n_m_scans = len(re.findall(r"\(\d+\) Scan parquet", pm))
    p = plan_of(QUERIES["event_transitions"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "event_transitions_single_lag_pass",
        n_user_ex == 1
        and n_m_scans == 1
        and n_scans == 0
        and "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"matrix pass: user_id Exchanges={n_user_ex}, scans={n_m_scans}; "
        f"downstream corpus re-scans={n_scans}; broadcast totals join",
    )

    # 18e. rfm_segments: the user-metric table is checkpointed before
    #      its two-consumer fan-out (quartile boundaries + bucketing),
    #      so the downstream plan reads ZERO raw parquet scans; the
    #      single-row boundary/global-day aggs ride condition-free
    #      broadcast crosses; bucketing is a narrow projection
    p = plan_of(QUERIES["rfm_segments"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    check(
        "rfm_segments_checkpointed_fanout",
        n_scans == 0
        and not conditioned
        and "Window" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"corpus re-scans={n_scans}; condition-free broadcast crosses",
    )

    # 18f. embed_outliers: assignment is the ivf_assign broadcast-
    #      argmax narrow map (no extra Exchange); the bottom-K window
    #      pushes its per-list limit below the one list_id Exchange
    #      via WindowGroupLimit, so the shuffle carries ~K rows per
    #      list per input partition, not the corpus
    p = plan_of(QUERIES["embed_outliers"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    check(
        "embed_outliers_window_group_limit",
        "WindowGroupLimit" in p
        and n_ex <= 2  # list_id hash + the broadcast of the centroid row
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"WindowGroupLimit below the ranking window; Exchanges={n_ex}",
    )

    # 18g. stickiness_wau: the rolling distinct is a bounded ×7
    #      Generate over the deduped user-day grain — no range
    #      self-join, no window, no all-pairs product, no python —
    #      and the user-day table is checkpointed before its DAU/WAU
    #      fan-out, so the final plan replays zero raw corpus scans
    p = plan_of(QUERIES["stickiness_wau"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "stickiness_wau_bounded_explode",
        "Generate" in p
        and "Window" not in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p
        and n_scans == 0,
        f"bounded explode; no range self-join / window / python; "
        f"corpus re-scans={n_scans}",
    )

    # 18h. site_boilerplate: the doc-grain (domain, lines[]) table is
    #      checkpointed before its three-consumer fan-out (frequency,
    #      page counts, per-page rollup), so the final plan reads ZERO
    #      raw parquet scans; candidate generation is equi-joins only
    #      (domain/line grain), the page-set count partial-aggregates,
    #      and no python touches the lines
    p = plan_of(QUERIES["site_boilerplate"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "site_boilerplate_checkpointed_fanout",
        n_scans == 0
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Window" not in p
        and "Python" not in p,
        f"corpus re-scans={n_scans}; equi-joins only, no window/python",
    )

    # 18i. k_anonymity: one distinct-aggregate over the QI grain — the
    #      l-diversity countDistinct rewrites into the two-phase
    #      (QI, source) dedup + QI rollup, both partial-aggregated
    #      (no unbounded buffer), so the plan is exactly two Exchanges
    #      with no join/window/python
    p = plan_of(QUERIES["k_anonymity"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    # partial_ specifically — a bare HashAggregate match would also
    # accept a single-phase plan with no map-side combine (the
    # vacuous-assertion trap from the round-11 exchange-above-agg fix)
    n_partial = len(re.findall(r"partial_count", p))
    check(
        "k_anonymity_two_phase_distinct",
        n_ex == 2
        and "Join" not in p
        and "Window" not in p
        and "Python" not in p
        and n_partial >= 1,
        f"Exchanges={n_ex} (QI+source dedup, QI rollup); "
        f"partial_count sites={n_partial}; no join/window",
    )

    # 18j. dialog_assemble: session cut, role lag, both running sums,
    #      and BOTH aggregation levels (turn grain, thread grain) ride
    #      ONE hash(user_id) Exchange — the window spec and the
    #      user-prefixed group keys all reuse the same partitioning
    #      (the q_sessionize_batch shape), and no python touches the
    #      assembly
    p = plan_of(QUERIES["dialog_assemble"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    n_user_ex = len(re.findall(r"Arguments: hashpartitioning\(user_id", p))
    check(
        "dialog_assemble_single_exchange",
        n_ex == 1
        and n_user_ex == 1
        and "Python" not in p
        and "CartesianProduct" not in p,
        f"Exchanges={n_ex} (all user_id); windows+2-level agg share it",
    )

    # 18k. license_detect: precedence CASE chain over the clamped
    #      256-char tail — a single narrow pass, zero Exchange, zero
    #      join, zero python
    p = plan_of(QUERIES["license_detect"](spark, sf_dir))
    check(
        "license_detect_narrow",
        "Exchange" not in p and "Join" not in p and "Python" not in p,
        "zero Exchange / join / python",
    )

    # 18l. cdc_chunks: chunking itself is a zero-Exchange narrow map
    #      (boundary filter + closed-form span transform over bound
    #      arrays — no prefix-sum HOF, no window); the chunk table is
    #      checkpointed before its two-consumer fan-out, so the final
    #      plan reads ZERO raw scans and its only Exchanges are the
    #      sharing rollup + its join
    from freki_spark.functions.dedup import _cdc_chunk_table

    pc = plan_of(_cdc_chunk_table(spark, sf_dir))
    p = plan_of(QUERIES["cdc_chunks"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "cdc_chunks_narrow_then_rollup",
        "Exchange" not in pc
        and "Window" not in pc
        and "Python" not in pc
        and n_scans == 0
        and "CartesianProduct" not in p,
        f"chunk pass narrow (no Exchange); downstream raw scans={n_scans}",
    )

    # 18m. slop_filter: occurrence counting + the flag is one fused
    #      narrow projection — zero Exchange, zero join, zero python
    p = plan_of(QUERIES["slop_filter"](spark, sf_dir))
    check(
        "slop_filter_narrow",
        "Exchange" not in p and "Join" not in p and "Python" not in p,
        "zero Exchange / join / python",
    )

    # 18n. mrl_recall: both rankings broadcast the tiny probe set and
    #      window only on q_id (probe-bounded rows); no python, no
    #      conditioned nested-loop join beyond the two intentional
    #      probe broadcasts
    p = plan_of(QUERIES["mrl_recall"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "mrl_recall_probe_windows",
        wins <= {"q_id"} and "Python" not in p and "CartesianProduct" not in p,
        f"window keys={sorted(wins)}; probe-bounded, no python",
    )

    # 18o. merge_upsert: the winner election is a partial-aggregable
    #      struct max — ONE key-grain Exchange with map-side combine
    #      (partial_max), never a row_number window over the full log
    p = plan_of(QUERIES["merge_upsert"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    check(
        "merge_upsert_partial_max",
        n_ex == 1
        and "partial_max" in p
        and "Window" not in p
        and "Python" not in p
        and "CartesianProduct" not in p,
        f"Exchanges={n_ex}; partial_max map-side combine; no window",
    )

    # 18p. token_budget_cap: ONE source-grain Exchange+Sort carries
    #      the whole running-budget computation — the window partitions
    #      on source (domain grain, scales with domains), never a
    #      constant key, and nothing else shuffles
    p = plan_of(QUERIES["token_budget_cap"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "token_budget_cap_single_window",
        n_ex == 1
        and wins == {"source"}
        and "Join" not in p
        and "Python" not in p,
        f"Exchanges={n_ex}; window keys={sorted(wins)}; no join/python",
    )

    # 18q. inbatch_collisions: candidates come from the banded index
    #      (checkpointed minhash — no CartesianProduct, no re-derived
    #      shingle scan), batch assignment is narrow, and the
    #      intersection is id-grain equi-joins only
    p = plan_of(QUERIES["inbatch_collisions"](spark, sf_dir))
    check(
        "inbatch_collisions_banded",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Window" not in p
        and "Python" not in p,
        "banded candidates; equi-joins only; no window/python",
    )

    # 18r. attribution_last_touch: both LOCF forward-fills ride ONE
    #      hash(user_id) Exchange+Sort (shared window spec); no join —
    #      the as-of-join alternative would shuffle and sort BOTH
    #      sides — and no python
    p = plan_of(QUERIES["attribution_last_touch"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    check(
        "attribution_last_touch_locf",
        n_ex == 1 and "Join" not in p and "Python" not in p,
        f"Exchanges={n_ex}; LOCF window, no join/python",
    )

    # 18s. path_rollup: one bounded Generate (the x3 prefix explode)
    #      + ONE map-side-combined Exchange at (domain, prefix) grain;
    #      no join, no window, no python
    p = plan_of(QUERIES["path_rollup"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    n_partial = len(re.findall(r"partial_count", p))
    check(
        "path_rollup_single_rollup",
        n_ex == 1
        and "Generate" in p
        and n_partial >= 1
        and "Join" not in p
        and "Window" not in p
        and "Python" not in p,
        f"Exchanges={n_ex}; bounded Generate; partial agg; no join",
    )

    # 18t. gap_fill_calendar: exactly TWO partial-aggregated Exchanges
    #      — raw events collapse map-side to (user, day) grain before
    #      the first shuffle, the user-grain map agg rides the second,
    #      and the calendar explode + running-total window add NONE
    #      (user partitioning satisfied); no calendar join
    p = plan_of(QUERIES["gap_fill_calendar"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    n_partial = len(re.findall(r"partial_count", p))
    check(
        "gap_fill_calendar_two_exchanges",
        n_ex == 2
        and n_partial >= 1
        and "Generate" in p
        and "Window" in p
        and "Join" not in p
        and "Python" not in p,
        f"Exchanges={n_ex} (both above partial aggs); window reuses "
        "user partitioning; map-carried calendar explode, no join",
    )

    # 18u. anomaly_mad: two grouped exact percentiles broadcast back;
    #      deviation + flag are narrow; no window, no python, and the
    #      median joins are broadcast (type-grain)
    p = plan_of(QUERIES["anomaly_mad"](spark, sf_dir))
    check(
        "anomaly_mad_broadcast_medians",
        "BroadcastHashJoin" in p
        and "Window" not in p
        and "Python" not in p
        and "CartesianProduct" not in p,
        "broadcast grouped medians; narrow deviation/flag",
    )

    # 18v. changepoint_cusum: the corpus collapses map-side to
    #      (type, day) grain in ONE partial-aggregated Exchange; the
    #      CUSUM windows run over telemetry-sized data and the ref
    #      join is broadcast
    p = plan_of(QUERIES["changepoint_cusum"](spark, sf_dir))
    n_partial = len(re.findall(r"partial_count", p))
    check(
        "changepoint_cusum_partial_first",
        n_partial >= 1
        and "BroadcastHashJoin" in p
        and "Python" not in p
        and "CartesianProduct" not in p,
        "partial agg before shuffle; broadcast ref; windows post-agg",
    )

    # 18w. item_cooccurrence: the per-user cap rank predicate pushes
    #      WindowGroupLimit below the Exchange (bots bounded map-side
    #      — the crawl_frontier precedent), the pairing is a user-
    #      keyed equi-join of capped sides, and the pair rollup
    #      partial-aggregates; no all-pairs product
    p = plan_of(QUERIES["item_cooccurrence"](spark, sf_dir))
    check(
        "item_cooccurrence_capped",
        "WindowGroupLimit" in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        "WindowGroupLimit cap; user-keyed equi-join pairing",
    )

    # 18x. vocab_dense_ids: the two-pass shard rebase — per-bucket
    #      ranking windows (bucket key, never global), the tiny base
    #      table broadcast back, no single-partition global sort of
    #      the vocabulary
    p = plan_of(QUERIES["vocab_dense_ids"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "vocab_dense_ids_shard_rebase",
        "bucket" in wins
        and "BroadcastHashJoin" in p
        and "Python" not in p
        and "CartesianProduct" not in p,
        f"window keys={sorted(wins)}; broadcast bases; no global sort "
        "of the vocabulary",
    )

    # 18y. two_hop_reach: degree-bounded equi-join expansion + anti-
    #      join subtraction + partial-aggregated rollups; no all-pairs
    #      product, no window, no python
    p = plan_of(QUERIES["two_hop_reach"](spark, sf_dir))
    check(
        "two_hop_reach_equijoin",
        "CartesianProduct" not in p
        and "Window" not in p
        and "Python" not in p,
        "equi-join expansion; anti-join subtraction; no window/python",
    )

    # 19. Gopher quality rules: ZERO Exchange — every stat including
    #     the top-unigram count (sorted-run scan, not explode+groupBy)
    #     is a narrow per-row expression
    p = plan_of(QUERIES["gopher_quality"](spark, sf_dir))
    check(
        "gopher_quality_narrow",
        "Exchange" not in p and "Generate" not in p,
        "zero Exchange, zero explode in the rule-set plan",
    )

    # 19b. curate_keep: the FUSED gate — both rule sets plus the
    #     verdict collapse into one narrow pass over ONE corpus scan
    #     (running the component ops separately would read it twice)
    p = plan_of(QUERIES["curate_keep"](spark, sf_dir))
    # formatted explain prints each node twice (tree + detail) — count
    # only the numbered detail headers
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "curate_fused_single_scan",
        "Exchange" not in p and "Generate" not in p and n_scans == 1,
        f"zero Exchange, zero explode, scans={n_scans} (want 1)",
    )

    # 20. deterministic shuffle: the corpus-sized dense rank runs at
    #     _shard_ grain (windowspecdefinition on the shard key), the
    #     per-shard bases join back via broadcast, and the only shard
    #     Exchanges are (a) the window's hash partition of the big
    #     side and (b) the counts branch — which must partially
    #     aggregate map-side first, so it shuffles ≤64 count rows per
    #     task, never corpus rows
    p = plan_of(QUERIES["shuffle_deterministic"](spark, sf_dir))
    sharded = bool(re.search(r"windowspecdefinition\(shard#\d+", p))
    n_shard_ex = len(re.findall(r"Arguments: hashpartitioning\(shard", p))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", p)]
    counts_partial = "partial_count" in p and agg and ex and min(agg) < max(ex)
    check(
        "shuffle_sharded_rank",
        sharded
        and n_shard_ex <= 2
        and counts_partial
        and "BroadcastHashJoin" in p,
        f"shard-grain window={sharded}, shard Exchanges={n_shard_ex} "
        "(counts branch partial-agg'd), broadcast base join",
    )

    # 21. badword filter: ZERO Exchange — unigram hits, bigram phrase
    #     positions (zip_with, not explode+self-join), hard word, and
    #     ratio rule are all one narrow per-row expression
    p = plan_of(QUERIES["badword_filter"](spark, sf_dir))
    check(
        "badword_narrow",
        "Exchange" not in p and "Generate" not in p,
        "zero Exchange, zero explode in the blocklist plan",
    )

    # 22. mixture sampler: the corpus side is a narrow filter — the
    #     language histogram and its 1-row min are the ONLY aggregates
    #     (partial-agg'd) and both join back via broadcast; the corpus
    #     itself never hash-partitions on doc grain
    p = plan_of(QUERIES["mixture_sample"](spark, sf_dir))
    no_doc_ex = not re.search(r"Arguments: hashpartitioning\(doc_id", p)
    check(
        "mixture_bcast_filter",
        "BroadcastHashJoin" in p
        and "SortMergeJoin" not in p
        and "partial_count" in p
        and no_doc_ex,
        "broadcast histogram joins, no doc-grain Exchange",
    )

    # 23. canonical keeper: the per-component argmax is a plain
    #     partial-aggregable max_by — partial aggregation runs BEFORE
    #     the comp-grain Exchange, so mirror-cluster skew shuffles only
    #     constant-size partial states.  (Struct-ordered max_by plans
    #     as SortAggregate — the partial-before-shuffle property is
    #     what matters, not the aggregate flavor.)
    p = plan_of(QUERIES["dedup_canonical"](spark, sf_dir))
    agg = [
        int(m)
        for m in re.findall(r"(?:Hash|Sort|ObjectHash)Aggregate \((\d+)\)", p)
    ]
    comp_ex = [
        int(m)
        for m in re.findall(
            r"\((\d+)\) Exchange\n(?:[^\n]*\n){0,2}?Arguments: hashpartitioning\(comp",
            p,
        )
    ]
    check(
        "canonical_partial_argmax",
        "partial_max_by" in p and agg and comp_ex and min(agg) < min(comp_ex),
        "partial max_by below the comp-grain Exchange",
    )

    # 25. round-2 narrow text ops: dehyphenation and the lexical-
    #     diversity sorted-run scan are pure per-row expressions —
    #     zero Exchange at any corpus size
    for slug in ("dehyphenate", "lexical_diversity"):
        p = plan_of(QUERIES[slug](spark, sf_dir))
        check(f"narrow_{slug}", "Exchange" not in p, "no Exchange in plan")

    # 26. text_normalize: exactly one Arrow-batched python stage (the
    #     NFC map) and no Exchange — the UDF must not force a shuffle
    p = plan_of(QUERIES["text_normalize"](spark, sf_dir))
    # count plan NODES (`(n) ArrowEvalPython` detail headers), not raw
    # string hits — the tree section repeats each node name once
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", p))
    check(
        "normalize_arrow_narrow",
        n_arrow == 1 and "Exchange" not in p and "BatchEvalPython" not in p,
        f"ArrowEvalPython x{n_arrow} (NFC runs once), no row-at-a-time python, "
        "no Exchange",
    )

    # 27. paragraph_dedup: the first-occurrence election partially
    #     aggregates map-side (partial_min on the (doc_id, pos) struct
    #     ordinal below the hash Exchange), so only (hash, partial-min)
    #     rows shuffle
    p = plan_of(QUERIES["paragraph_dedup"](spark, sf_dir))
    # the struct-ordinal min compiles to SortAggregate (structs are not
    # hash-aggregable); it still partial-aggregates map-side
    agg_ids = [
        int(m)
        for m in re.findall(
            r"(?:HashAggregate|SortAggregate|ObjectHashAggregate) \((\d+)\)", p
        )
    ]
    ex_ids = [int(m) for m in re.findall(r"Exchange \((\d+)\)", p)]
    check(
        "paradedup_partial_min",
        "partial_min" in p and bool(agg_ids and ex_ids) and min(agg_ids) < min(ex_ids),
        "partial min(struct ordinal) below the hash Exchange",
    )

    # 28. pagerank: contributions combine map-side every iteration
    #     (partial_sum per groupBy(dst)) and no all-pairs join sneaks
    #     in (the only BroadcastNestedLoopJoin allowed is the 1-row
    #     node-count literal join)
    p = plan_of(QUERIES["pagerank_iter"](spark, sf_dir))
    n_psum = len(re.findall(r"partial_sum", p))
    check(
        "pagerank_partial_sums",
        n_psum >= 3 and "CartesianProduct" not in p,
        f"partial_sum x{n_psum} (one per iteration), no CartesianProduct",
    )

    # 29. quality_classifier: the hashed linear model is one narrow
    #     codegen pass — weights are plan literals, features stay in
    #     per-row array expressions
    p = plan_of(QUERIES["quality_classifier"](spark, sf_dir))
    check(
        "quality_classifier_narrow",
        "Exchange" not in p and "Python" not in p,
        "zero Exchange, zero python in the classifier plan",
    )

    # 30. c4_line_filter: line synthesis (O(n) prefix-sum fold) and
    #     the C4 rules are per-row array expressions — zero Exchange,
    #     zero explode
    p = plan_of(QUERIES["c4_line_filter"](spark, sf_dir))
    check(
        "c4_line_filter_narrow",
        "Exchange" not in p and "Generate" not in p,
        "zero Exchange, zero explode in the C4 rule plan",
    )

    # 31. kmeans_update: the per-dimension fanout partial-aggregates
    #     map-side, so the ONLY hash Exchange carries (list_id, j)
    #     partial rows; no Window anywhere (the old IVF anti-pattern)
    p = plan_of(QUERIES["kmeans_update"](spark, sf_dir))
    n_hash = len(re.findall(r"hashpartitioning\(list_id#\d+L?, j#", p))
    check(
        "kmeans_partial_sum",
        "partial_sum" in p and n_hash == 1 and "Window" not in p,
        f"partial_sum map-side, (list_id, j) hash Exchanges={n_hash}, no Window",
    )

    # 32. dedup_semantic: candidate pairs come from the within-cluster
    #     EQUI-join — join keys are [list_id], never an all-pairs
    #     product (the broadcast 1-row centroid-array joins are the
    #     only nested-loop joins allowed).  At this SF Catalyst may
    #     pick broadcast-hash over sort-merge for it (build side fits);
    #     both carry the list_id key, which is what survives scale-up.
    p = plan_of(QUERIES["dedup_semantic"](spark, sf_dir))
    check(
        "semantic_cluster_join",
        "CartesianProduct" not in p
        and bool(re.search(r"keys \[1\]: \[list_id#\d+L?\]", p)),
        "within-cluster equi-join keyed on list_id, no CartesianProduct",
    )

    # 33. perplexity_bucket: every count-model groupBy partially
    #     aggregates map-side (raw bigram occurrences never shuffle
    #     unreduced), no quantile/global Window anywhere (CCNet cutoffs
    #     are plan literals), no all-pairs product
    p = plan_of(QUERIES["perplexity_bucket"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    # shuffle Exchanges only — a BroadcastExchange below the first agg
    # (the folded vsz scalar) is exactly the designed plan
    ex = [int(m) for m in re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", p)]
    check(
        "ppl_partial_agg_no_window",
        "partial_count" in p
        and agg and ex and min(agg) < min(ex)
        and "Window" not in p
        and "CartesianProduct" not in p,
        "partial agg below first Exchange, no Window, no CartesianProduct",
    )

    # 34. dsir_select: the λ table (fixed DSIR_BUCKETS rows) joins back
    #     to the feature stream via BROADCAST — never a shuffle join —
    #     and the count models partial-agg map-side
    p = plan_of(QUERIES["dsir_select"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", p)]
    check(
        "dsir_bcast_lambda",
        "BroadcastHashJoin" in p
        and "SortMergeJoin" not in p
        and agg and ex and min(agg) < min(ex),
        "broadcast λ join, partial agg below first Exchange",
    )

    # 35. bpe_train: the corpus compresses to the unique-word frequency
    #     table BEFORE pair counting (partial_count below the first
    #     Exchange), and the ranking Window runs only over the
    #     already-aggregated pair table (window node above all aggs)
    p = plan_of(QUERIES["bpe_train"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    win = [int(m) for m in re.findall(r"Window \((\d+)\)", p)]
    check(
        "bpe_train_word_compress",
        "partial_count" in p and agg and win and max(agg) < min(win),
        "word-freq compression + pair agg below the ranking window",
    )

    # 36. domain_stats: URL→domain is a narrow regexp feeding ONE
    #     partial-agg'd rollup; the share denominator folds in as a
    #     broadcast 1-row aggregate (no driver action, no shuffle join)
    p = plan_of(QUERIES["domain_stats"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", p)]
    check(
        "domain_stats_partial_rollup",
        "partial_count" in p
        and agg and ex and min(agg) < min(ex)
        and "SortMergeJoin" not in p,
        "partial rollup below first Exchange, broadcast total join",
    )

    # 37. dedup_incremental: the corpus index probe is an equi-join on
    #     the band key (never an all-pairs product against 10^12 docs),
    #     and the best-match election windows on new_id (batch-
    #     cardinality partitions)
    p = plan_of(QUERIES["dedup_incremental"](spark, sf_dir))
    win_key = bool(re.search(r"windowspecdefinition\(new_id#\d+L?,", p))
    # both signature tables are checkpointed before fan-out, so the
    # downstream plan must contain ZERO raw corpus scans — every
    # branch reads the materialized (doc_id, mh) tables
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "incremental_band_probe",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and win_key
        and n_scans == 0,
        f"band equi-join only, new_id-grain election window={win_key}, "
        f"corpus re-scans={n_scans}",
    )

    # 38. crawl_frontier: the rank<=K politeness cap must trigger
    #     WindowGroupLimit PUSHDOWN — a partial top-K per domain runs
    #     BEFORE the exchange, so the shuffle carries O(K * domains)
    #     rows, not the whole frontier (and a mega-domain crawler trap
    #     forwards at most K rows per upstream task)
    p = plan_of(QUERIES["crawl_frontier"](spark, sf_dir))
    wgl = [int(m) for m in re.findall(r"\((\d+)\) WindowGroupLimit", p)]
    ex = [int(m) for m in re.findall(r"\((\d+)\) Exchange", p)]
    check(
        "frontier_partial_topk",
        len(wgl) == 2 and ex and min(wgl) < min(ex),
        "partial WindowGroupLimit below the domain Exchange",
    )

    # 39. url_dedup: the keeper election partial-aggregates map-side
    #     (partial_min below the url_canon Exchange) — only
    #     (doc_id, url_canon) pairs ever shuffle, never text
    p = plan_of(QUERIES["url_dedup"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex = [int(m) for m in re.findall(r"\((\d+)\) Exchange", p)]
    check(
        "url_dedup_partial_min",
        "partial_min" in p and agg and ex and min(agg) < min(ex),
        "partial min(doc_id) below the url_canon Exchange",
    )

    # 40. line_dedup: within-doc repetition removal is ONE narrow pass
    #     — array_distinct per row, no Exchange, no explode, no python
    p = plan_of(QUERIES["line_dedup"](spark, sf_dir))
    check(
        "line_dedup_narrow",
        "Exchange" not in p and "Generate" not in p and "Python" not in p,
        "zero Exchange, zero explode, zero python",
    )

    # 41. robots_filter: the ruleset joins via BROADCAST (frontier rows
    #     never shuffle for the join); the only shuffle Exchange is the
    #     domain-string distinct that builds the rules dim
    p = plan_of(QUERIES["robots_filter"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    check(
        "robots_broadcast_rules",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p and n_ex == 1,
        f"broadcast rules join, shuffle Exchanges={n_ex} (domain distinct only)",
    )

    # 42. link_graph: pages never shuffle — the explode emits (src, dst)
    #     pairs and the edge rollup partial-aggregates map-side below
    #     the single (src, dst) Exchange
    p = plan_of(QUERIES["link_graph"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex = [int(m) for m in re.findall(r"\((\d+)\) Exchange", p)]
    check(
        "link_graph_partial_edges",
        "partial_count" in p
        and len(ex) == 1
        and agg and min(agg) < min(ex)
        and "Generate" in p,
        "explode to (src,dst) pairs, partial_count below the single Exchange",
    )

    # 43. caption_mine: ONE doc-grain window pairs media spans with
    #     their neighbor lines — no second sort/shuffle sneaks in
    p = plan_of(QUERIES["caption_mine"](spark, sf_dir))
    n_win = len(re.findall(r"\(\d+\) Window", p))
    win_doc = bool(re.search(r"windowspecdefinition\(doc_id#", p))
    check(
        "caption_single_window",
        n_win == 1 and win_doc,
        f"Window nodes={n_win}, doc_id-partitioned={win_doc}",
    )

    # 44. anchor_text: pages never shuffle — the (dst, anchor) rollup
    #     partial-aggregates map-side below its Exchange, and the
    #     ranking window is dst_domain-partitioned (domain-bounded),
    #     never a corpus-grain key
    p = plan_of(QUERIES["anchor_text"](spark, sf_dir))
    agg = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex = [int(m) for m in re.findall(r"\((\d+)\) Exchange", p)]
    win_dst = bool(re.search(r"windowspecdefinition\(dst_domain#", p))
    check(
        "anchor_text_partial_rank",
        "partial_count" in p and agg and ex and min(agg) < min(ex) and win_dst,
        "partial_count below first Exchange, dst_domain-partitioned window",
    )

    # 45. inverted_postings: tf and df rollups partial-agg map-side;
    #     the champion-list window partitions on TERM and Spark prunes
    #     with WindowGroupLimit before the rank filter
    p = plan_of(QUERIES["inverted_postings"](spark, sf_dir))
    check(
        "inverted_postings_shape",
        "partial_count" in p
        and "WindowGroupLimit" in p
        and re.search(r"windowspecdefinition\(term#", p) is not None,
        "partial aggs, term-partitioned window, WindowGroupLimit",
    )

    # 46. bm25_topk: query-term selection is a distributed top-k
    #     (TakeOrderedAndProject, never a global Sort), the query-term
    #     table joins into tf via BROADCAST, and no window partitions
    #     on a corpus-grain key (query_id only)
    p = plan_of(QUERIES["bm25_topk"](spark, sf_dir))
    wins = re.findall(r"windowspecdefinition\((\w+)#", p)
    check(
        "bm25_plan_shape",
        "TakeOrderedAndProject" in p
        and "BroadcastHashJoin" in p
        and set(wins) <= {"query_id", "cf", "gr"}
        and "SortMergeJoin" not in p,
        f"TakeOrdered qterms, broadcast join, window keys={sorted(set(wins))}",
    )

    # 47. gopher_ngram_flags: the packed-max-key trick means NO window
    #     node exists; both groupBys partial-agg map-side; the 9-way n
    #     expansion stays a narrow Generate (exactly 2 shuffle
    #     Exchanges: (doc_id,n,g) then (doc_id,n))
    p = plan_of(QUERIES["gopher_ngram_flags"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    check(
        "gopher_ngram_no_window",
        "Window" not in p and "partial_count" in p and n_ex == 2,
        f"zero Window, partial aggs, Exchanges={n_ex}",
    )

    # 48. q_scan_evolved: column pruning must survive schema
    #     evolution — projecting 2 columns over the mixed-generation
    #     directory reads a 2-column ReadSchema (no text, no lang)
    p = plan_of(
        QUERIES["q_scan_evolved"](spark, sf_dir).select("doc_id", "quality")
    )
    schema = re.search(r"ReadSchema: [^\n]*", p)
    ok = (
        schema is not None
        and "text" not in schema.group(0)
        and "lang" not in schema.group(0)
        and "quality" in schema.group(0)
    )
    check(
        "evolved_scan_prunes",
        ok,
        f"ReadSchema pruned across generations: {bool(ok)}",
    )

    # 49. zorder_plan: the Morton-key assignment is entirely narrow —
    #     zero Exchange, zero Window, no python
    p = plan_of(QUERIES["zorder_plan"](spark, sf_dir))
    check(
        "zorder_narrow",
        "Exchange" not in p and "Window" not in p and "Python" not in p,
        "zero Exchange / Window / python",
    )

    # 50. heavy_hitters_cms: the sketch build partial-aggregates
    #     map-side (constant 4096-cell state crosses the Exchange),
    #     candidates come from a distributed top-k, and the estimate
    #     join broadcasts the sketch — no SortMergeJoin anywhere
    p = plan_of(QUERIES["heavy_hitters_cms"](spark, sf_dir))
    check(
        "cms_sketch_shape",
        "partial_count" in p
        and "TakeOrderedAndProject" in p
        and "BroadcastHashJoin" in p
        and "SortMergeJoin" not in p,
        "partial agg sketch, TakeOrdered candidates, broadcast estimate join",
    )

    # 51. winnow_fingerprint: fingerprint selection is entirely
    #     per-row array expressions over bound columns — the explode
    #     is a narrow Generate, zero Exchange, zero python
    p = plan_of(QUERIES["winnow_fingerprint"](spark, sf_dir))
    check(
        "winnow_narrow",
        "Exchange" not in p and "Python" not in p and "Generate" in p,
        "zero Exchange / python; narrow Generate",
    )

    # 52. temperature_sample: the corpus side is one narrow filter —
    #     only the tiny language histogram aggregates shuffle, and the
    #     per-language plan broadcasts back (no SortMergeJoin, no
    #     corpus-keyed Exchange: every Exchange sits above a
    #     HashAggregate, never above the raw scan projection)
    p = plan_of(QUERIES["temperature_sample"](spark, sf_dir))
    n_ex, ex_above_agg = shuffle_exchanges_feed_aggregates(p)
    check(
        "temperature_sample_shape",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p and ex_above_agg,
        f"broadcast plan join; {n_ex} shuffle exchanges, each directly "
        "above a HashAggregate",
    )

    # 53. shard_manifest: ONE Exchange, partial-aggregated map-side
    #     (constant per-shard state crosses the shuffle)
    p = plan_of(QUERIES["shard_manifest"](spark, sf_dir))
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    ex_ids = [int(m) for m in re.findall(r"Exchange \((\d+)\)", p)]
    check(
        "shard_manifest_partial",
        "partial_sum" in p
        and len(set(ex_ids)) == 1
        and bool(agg_ids)
        and min(agg_ids) < min(ex_ids),
        "single Exchange with map-side combine",
    )

    # 54. media_phash_dedup: candidates come from the band equi-join,
    #     never an all-pairs plan; the binary content reduces to the
    #     60-bit hash in the narrow map, so no shuffle carries a
    #     `content` column
    p = plan_of(QUERIES["media_phash_dedup"](spark, sf_dir))
    ex_blocks = re.findall(r"\(\d+\) Exchange.*?(?=\n\(\d+\)|\Z)", p, re.S)
    blob_shuffled = any("content" in b for b in ex_blocks)
    check(
        "phash_band_join",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and not blob_shuffled,
        "band equi-join only; no blob column in any Exchange",
    )

    # 55. clip_filter: pair scoring + verdict is ONE narrow pass —
    #     zero Exchange, zero python, no join materialized
    p = plan_of(QUERIES["clip_filter"](spark, sf_dir))
    check(
        "clip_filter_narrow",
        "Exchange" not in p and "Python" not in p and "Join" not in p,
        "zero Exchange / python / join",
    )

    # 56. hard_negatives: shares bm25's scoring plan (broadcast qterms,
    #     TakeOrdered term selection) and BOTH its windows partition on
    #     query_id only — never a corpus-grain key
    p = plan_of(QUERIES["hard_negatives"](spark, sf_dir))
    wins = re.findall(r"windowspecdefinition\((\w+)#", p)
    check(
        "hard_negatives_plan_shape",
        "TakeOrderedAndProject" in p
        and "BroadcastHashJoin" in p
        and set(wins) <= {"query_id", "cf", "gr"}
        and "SortMergeJoin" not in p,
        f"broadcast scoring, window keys={sorted(set(wins))}",
    )

    # 57. bleu_stats: per-doc eval statistics are entirely per-row
    #     array expressions — zero Exchange, zero python, no join
    p = plan_of(QUERIES["bleu_stats"](spark, sf_dir))
    check(
        "bleu_stats_narrow",
        "Exchange" not in p and "Python" not in p and "Join" not in p,
        "zero Exchange / python / join",
    )

    # 58. span_corruption: the T5 mask plan is closed-form per row —
    #     zero Exchange, zero python, no join, no window
    p = plan_of(QUERIES["span_corruption"](spark, sf_dir))
    check(
        "span_corruption_narrow",
        "Exchange" not in p
        and "Python" not in p
        and "Join" not in p
        and "Window" not in p,
        "zero Exchange / python / join / window",
    )

    # 58b. semantic_pack: every window partitions on list_id (cluster
    #      grain — cardinality grows with the corpus); the only
    #      nested-loop join is the intended condition-FREE 1-row
    #      broadcast centroid attach (a conditioned one would mean
    #      Catalyst re-inlined the argmax into the join — the
    #      regression _assign_lists(with_ccos=True) exists to prevent)
    p = plan_of(QUERIES["semantic_pack"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    check(
        "semantic_pack_cluster_grain",
        wins == {"list_id"}
        and "CartesianProduct" not in p
        and n_bnlj == 1
        and not conditioned,
        f"window keys={sorted(wins)}, 1 condition-free broadcast cross",
    )

    # 58c. doremi_weights: the reweighting layer above the perplexity
    #      scoring is domain-cardinality only — broadcast 1-row
    #      reference/normalizer joins, no Window, no sort-merge join
    p = plan_of(QUERIES["doremi_weights"](spark, sf_dir))
    check(
        "doremi_domain_grain",
        "Window" not in p
        and "SortMergeJoin" not in p
        and "partial_count" in p,
        "no Window/SMJ; partial-agg'd scoring feeds broadcast rollups",
    )

    # 58d. filter_funnel: the telemetry layer adds at most the one
    #      fused narrow-signal scan on top of perplexity_bucket's own
    #      lineage (i.e. no second corpus pass for total/cumsum — the
    #      unfused form measured 2x the scans), and the only windows
    #      run on the 5-row stage spine — never a corpus-grain key
    from freki_spark.functions.text_analysis import perplexity_bucket

    ppl_scans = len(
        re.findall(r"Scan parquet", plan_of(perplexity_bucket(spark, sf_dir)))
    )
    p = plan_of(QUERIES["filter_funnel"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    n_scans = len(re.findall(r"Scan parquet", p))
    check(
        "filter_funnel_fused",
        wins <= {"stage"} and n_scans <= ppl_scans + 2,
        f"window keys={sorted(wins)}, parquet scans={n_scans} "
        f"(perplexity component alone: {ppl_scans})",
    )

    # 58e. vocab_coverage: one narrow encode pass, then ONE map-side
    #      combined Exchange to language grain — no Window, no python
    p = plan_of(QUERIES["vocab_coverage"](spark, sf_dir))
    n_ex, feeds_agg = shuffle_exchanges_feed_aggregates(p)
    check(
        "vocab_coverage_single_agg",
        n_ex == 1
        and feeds_agg
        and "Window" not in p
        and "Python" not in p,
        f"{n_ex} shuffle exchange directly above a HashAggregate; "
        "no Window/python",
    )

    # 58f. bpe_ids: the training-tensor materialization is one narrow
    #      codegen'd pass — zero Exchange, zero python
    p = plan_of(QUERIES["bpe_ids"](spark, sf_dir))
    check(
        "bpe_ids_narrow",
        "Exchange" not in p and "Python" not in p,
        "zero Exchange / python in the id-tensor pass",
    )

    # 58g. code_detect: code-vs-prose scoring is ONE narrow pass over
    #      the unioned corpus — zero Exchange, zero python, zero join
    p = plan_of(QUERIES["code_detect"](spark, sf_dir))
    check(
        "code_detect_narrow",
        "Exchange" not in p and "Python" not in p and "Join" not in p,
        "zero Exchange / python / join",
    )

    # 58h. ocr_garble: OCR-damage scoring is ONE narrow pass over the
    #      unioned corpus — zero Exchange, zero python, zero join
    p = plan_of(QUERIES["ocr_garble"](spark, sf_dir))
    check(
        "ocr_garble_narrow",
        "Exchange" not in p and "Python" not in p and "Join" not in p,
        "zero Exchange / python / join",
    )

    # 58h2. mojibake_fix: encoding repair is ONE narrow pass over the
    #       unioned corpus — zero Exchange, zero python, zero join
    p = plan_of(QUERIES["mojibake_fix"](spark, sf_dir))
    check(
        "mojibake_fix_narrow",
        "Exchange" not in p and "Python" not in p and "Join" not in p,
        "zero Exchange / python / join",
    )

    # 58i. dist_drift: per-side counts partial-aggregate map-side, the
    #      top-K is distributed (TakeOrderedAndProject, never a global
    #      Sort), totals ride condition-free broadcast crosses, and no
    #      all-pairs product appears anywhere.  The per-side count
    #      tables are checkpointed before their two-consumer fan-out
    #      (frequency projection + side total), so the downstream plan
    #      must contain ZERO raw corpus scans (check-37 pattern; 6
    #      scans when regressed — each consumer replans the
    #      tokenize+explode from the raw scan)
    p = plan_of(QUERIES["dist_drift"](spark, sf_dir))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "dist_drift_topk",
        "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p
        and not conditioned
        and n_scans == 0,
        "distributed top-K, condition-free crosses; "
        f"corpus re-scans={n_scans}",
    )

    # 58j. recrawl_schedule: the page-grain rollup partial-aggregates
    #      map-side into ONE Exchange; banding is narrow (no window,
    #      no join, no python)
    p = plan_of(QUERIES["recrawl_schedule"](spark, sf_dir))
    n_ex, feeds_agg = shuffle_exchanges_feed_aggregates(p)
    check(
        "recrawl_schedule_single_agg",
        n_ex == 1
        and feeds_agg
        and "Window" not in p
        and "Join" not in p
        and "Python" not in p,
        f"{n_ex} shuffle exchange directly above a HashAggregate; "
        "no Window/join/python",
    )

    # 58k. split_leakage: candidates come from the checkpointed band
    #      index (zero raw corpus scans downstream — the check-37
    #      pattern), the self-join is a band equi-join (no all-pairs),
    #      and split labels are narrow (no extra join, no python)
    p = plan_of(QUERIES["split_leakage"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "split_leakage_band_probe",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p
        and n_scans == 0,
        f"band equi-join only; corpus re-scans={n_scans}",
    )

    # 58l. hybrid_rrf: the fusion layer adds no all-pairs plan and no
    #      python — both retrievers keep their own audited shapes, the
    #      only nested-loop joins are the condition-free broadcast
    #      crosses (corpus stats + the tiny static prior)
    p = plan_of(QUERIES["hybrid_rrf"](spark, sf_dir))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    check(
        "hybrid_rrf_fusion_shape",
        "CartesianProduct" not in p
        and not conditioned
        and "Python" not in p,
        "no all-pairs/conditioned nested join, no python in the fusion",
    )

    # 58m. lsh_bucket_stats: the occupancy rollup is two map-side-
    #      combined Exchanges (bucket grain, then the tiny histogram),
    #      each directly above a HashAggregate; no window/join/python
    p = plan_of(QUERIES["lsh_bucket_stats"](spark, sf_dir))
    n_ex, feeds_agg = shuffle_exchanges_feed_aggregates(p)
    check(
        "lsh_bucket_stats_rollup",
        n_ex == 2
        and feeds_agg
        and "Window" not in p
        and "Join" not in p
        and "Python" not in p,
        f"{n_ex} shuffle exchanges, each above a HashAggregate; "
        "no Window/join/python",
    )

    # 58n. colloc_dice: the unigram table is checkpointed before its
    #      c_a/c_b fan-out, so the plan holds exactly ONE raw scan
    #      (the bigram side); the top-K is distributed and no
    #      all-pairs plan appears
    p = plan_of(QUERIES["colloc_dice"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "colloc_dice_single_scan_topk",
        n_scans == 1
        and "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"corpus scans={n_scans}; distributed top-K",
    )

    # 58o. domain_authority: the edge list is checkpointed before its
    #      three rollups, so the downstream plan holds ZERO raw scans
    #      (check-37 pattern); assembly is domain-grain equi-joins
    #      only — no all-pairs, no python
    p = plan_of(QUERIES["domain_authority"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "domain_authority_edge_rollup",
        n_scans == 0
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        f"corpus re-scans={n_scans}; domain-grain joins only",
    )

    # 58p. hits_scores: every half-step's score sum combines map-side
    #      (partial_sum per groupBy — 2 per iteration plus the 1-row
    #      L1 totals), no all-pairs join (the only BNLJ rows are the
    #      1-row node-count / total literals), no window, no python
    p = plan_of(QUERIES["hits_scores"](spark, sf_dir))
    n_psum = len(re.findall(r"partial_sum", p))
    check(
        "hits_partial_sums",
        n_psum >= 4
        and "CartesianProduct" not in p
        and "Window" not in p
        and "Python" not in p,
        f"partial_sum x{n_psum} (two per iteration), no CartesianProduct"
        " / Window / Python",
    )

    # 59. weighted_sample: the A-ES top-K is distributed
    #     (TakeOrderedAndProject — never a global Sort over the
    #     corpus); the only Window ranks the K survivors
    p = plan_of(QUERIES["weighted_sample"](spark, sf_dir))
    check(
        "weighted_sample_topk",
        "TakeOrderedAndProject" in p,
        "distributed top-K via TakeOrderedAndProject",
    )

    # 60. phrase_query: the workload broadcasts into the postings scan
    #     (BroadcastHashJoin) and both positional-adjacency joins are
    #     EQUI-joins on (doc_id, pos±i) — a term-condition regression
    #     that degrades them to a nested-loop product dies here
    p = plan_of(QUERIES["phrase_query"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "phrase_query_equi_adjacency",
        "BroadcastHashJoin" in p
        and n_scans <= 1
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        f"broadcast workload + equi adjacency joins over the "
        f"checkpointed index; raw scans={n_scans}",
    )

    # 61. triangle_count: the orientation/wedge/closure chain is
    #     equi-joins only (the 1-row node-count literal is the lone
    #     broadcast-loop allowed), degree rollups partial-agg
    #     map-side, no Window anywhere
    p = plan_of(QUERIES["triangle_count"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "triangle_count_oriented_joins",
        n_scans <= 1
        and "CartesianProduct" not in p
        and "Window" not in p
        and "Python" not in p,
        f"equi-join wedge/closure chain over checkpointed und/deg/"
        f"oriented; raw scans={n_scans}, no Window",
    )

    # 62. cluster_labels: the only Window partitions on list_id
    #     (cluster cardinality scales with the corpus) and the rank
    #     predicate pushes WindowGroupLimit map-side; assignment stays
    #     the broadcast-argmax narrow map (no CartesianProduct)
    p = plan_of(QUERIES["cluster_labels"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "cluster_labels_listid_window",
        wins <= {"list_id"}
        and "WindowGroupLimit" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"window keys={sorted(wins)}; WindowGroupLimit pushdown, no python",
    )

    # 63. skyline_pareto: pass 1 windows on the _bk shard (parallelism
    #     dial); the partition-less pass-2 window exists but runs over
    #     candidate-grain survivors only; no join anywhere in the plan
    p = plan_of(QUERIES["skyline_pareto"](spark, sf_dir))
    check(
        "skyline_two_pass",
        "_bk" in p
        and "Join" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        "bucketed local skyline + join-free candidate-grain global pass",
    )

    # 64. recommend_topk: the capped user-item relation is
    #     localCheckpointed before its three consumers (pair builder,
    #     user side, anti-join) — zero raw event scans downstream
    #     (check-37 pattern); candidate generation is item/user-grain
    #     equi-joins only; the ranking window is user-grain
    p = plan_of(QUERIES["recommend_topk"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "recommend_topk_checkpointed_cf",
        n_scans == 0
        and wins <= {"user_id"}
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        f"raw re-scans={n_scans}; window keys={sorted(wins)}; equi-joins only",
    )

    # 65. session_path_topk: sessionization windows + the per-session
    #     sequence agg all run on the user_id grain, and the final
    #     path ranking is a distributed top-k (TakeOrderedAndProject),
    #     never a global sort of corpus-sized rows
    p = plan_of(QUERIES["session_path_topk"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    # "n" is the rank window's ORDER key over the ≤PATH_TOPK rows that
    # survive TakeOrderedAndProject — not a corpus-grain window
    check(
        "session_path_user_grain",
        wins <= {"user_id", "n"}
        and "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"window keys={sorted(wins)}; distributed top-k, no python",
    )

    # 66. community_lpa: per-round winner election is a partial-
    #     aggregable struct-max (NO window — a per-node row_number
    #     would sort-shuffle the neighbor-label table every round);
    #     neighbor joins are equi-joins over the checkpointed sym list
    p = plan_of(QUERIES["community_lpa"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "community_lpa_structmax",
        n_scans == 0
        and "Window" not in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        f"raw re-scans={n_scans} (checkpointed labels); struct-max "
        "election, no Window/all-pairs/python",
    )

    # 67. kcenter_coreset: the per-round 1-row center set is
    #     checkpointed, so the FINAL assignment plan holds exactly one
    #     corpus scan (rounds never replan into each other); the
    #     argmax is a narrow array expression — no Window, no python
    p = plan_of(QUERIES["kcenter_coreset"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "kcenter_single_scan_rounds",
        n_scans == 1
        and "Window" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"final-plan scans={n_scans}; narrow argmax, no Window/python",
    )

    # 68. ab_chi2: user/conversion grids partial-aggregate map-side,
    #     the metric layer is broadcast-1-row only (no shuffle join),
    #     the DECIMAL38 comparison is a narrow expression — no Window
    p = plan_of(QUERIES["ab_chi2"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "ab_chi2_metric_grain",
        n_scans == 0
        and "Window" not in p
        and "SortMergeJoin" not in p
        and "Python" not in p,
        f"raw re-scans={n_scans} (checkpointed conv/tot); "
        "exact decimal gate, no Window",
    )

    # 69. colbert_maxsim: MaxSim is a narrow per-pair array expression
    #     over the broadcast probe set — no sub-vector explode, no
    #     shuffle join; the only window ranks on the probe grain
    p = plan_of(QUERIES["colbert_maxsim"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "colbert_maxsim_narrow",
        wins <= {"q_id"}
        and "SortMergeJoin" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"window keys={sorted(wins)}; narrow MaxSim, no shuffle join",
    )

    # 70. skipgram_pairs: the weighted-sampling range join is a
    #     bucketed EQUI join (BroadcastHashJoin on the grid cell —
    #     a raw lo<=r<hi join degrades to BroadcastNestedLoopJoin over
    #     corpus-grain draws); vocab cumsums window on the md5 shard
    p = plan_of(QUERIES["skipgram_pairs"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    # the sampling join must be an EQUI join keyed on the grid cell
    # (no broadcast HINT — vocabulary-sized at scale; Catalyst/AQE
    # picks the strategy) — a raw lo<=r<hi join shows up as a
    # BroadcastNestedLoopJoin carrying corpus-grain draws
    gb_keyed = bool(re.search(r"\[gb#\d+L?\]", p))
    check(
        "skipgram_bucketed_sampling",
        gb_keyed
        and wins <= {"bk"}
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"window keys={sorted(wins)}; gb-keyed equi-join sampling",
    )

    # 71. q_sliding_window: the ×2 hop expansion is a narrow fan-out
    #     feeding ONE map-side-combined rollup — no self-join, no
    #     window function, partial agg below the single Exchange
    p = plan_of(QUERIES["q_sliding_window"](spark, sf_dir))
    n_ex, fed = shuffle_exchanges_feed_aggregates(p)
    check(
        "sliding_window_partial_agg",
        "partial" in p
        and n_ex >= 1 and fed
        and "Join" not in p
        and "Python" not in p,
        f"narrow hop expansion; all {n_ex} Exchanges fed by partial agg",
    )

    # 72. q_session_window: the native session merge runs on ONE
    #     user-grain Exchange (same envelope as the islands windows)
    p = plan_of(QUERIES["q_session_window"](spark, sf_dir))
    n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    check(
        "session_window_single_exchange",
        n_ex == 1 and "Join" not in p and "Python" not in p,
        f"shuffle Exchanges={n_ex}; native session merge, no join",
    )

    # 73. entropy_filter: one narrow projection over the unioned
    #     corpus — the 37-term entropy sum is per-row expression work;
    #     zero Exchange, no join/window/python (the code_detect shape)
    p = plan_of(QUERIES["entropy_filter"](spark, sf_dir))
    n_ex = len(re.findall(r"Exchange \(\d+\)", p))
    check(
        "entropy_filter_zero_exchange",
        n_ex == 0
        and "Join" not in p
        and "Window" not in p
        and "Python" not in p,
        f"Exchanges={n_ex}; narrow entropy pass",
    )

    # 74. decile_bins: the exact global rank comes from VALUE-RANGE
    #     shard windows (rb — the parallelism dial), never a global
    #     single-partition sort; bases and n broadcast back
    p = plan_of(QUERIES["decile_bins"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "decile_bins_range_rebase",
        wins <= {"rb"}
        and n_scans == 0
        and "SortMergeJoin" not in p
        and "Python" not in p,
        f"window keys={sorted(wins)}; raw re-scans={n_scans}; "
        "range-rebased rank, broadcast bases",
    )

    # 75. q_xml_functions / q_variant_json: the Spark-4 XML and
    #     VARIANT surfaces are narrow per-row expressions — zero
    #     Exchange, no join/window/python in either plan
    for slug in ("q_xml_functions", "q_variant_json"):
        p = plan_of(QUERIES[slug](spark, sf_dir))
        n_ex = len(re.findall(r"Exchange \(\d+\)", p))
        check(
            f"{slug}_narrow",
            n_ex == 0 and "Join" not in p and "Python" not in p,
            f"Exchanges={n_ex}; narrow expression surface",
        )

    # 76. q_unpivot: the pivot groups over a PLAN-LITERAL value list
    #     (no inferred-distinct pre-scan: exactly one parquet scan)
    #     and the unpivot is a narrow Expand — one user-grain Exchange
    p = plan_of(QUERIES["q_unpivot"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    # pivot compiles to Spark's two-phase aggregate ((user, type)
    # grain then pivot-merge) — 2 Exchanges is its canonical shape
    check(
        "unpivot_literal_pivot",
        n_scans == 1 and n_ex <= 2 and "Expand" in p and "Python" not in p,
        f"scans={n_scans}, Exchanges={n_ex}; literal pivot + Expand",
    )

    # 77. pack_lpt: the size rank uses the range-rebase (windows on
    #     rb only, broadcast bases), never a global single-partition
    #     row_number; one checkpointed scan feeds both consumers
    p = plan_of(QUERIES["pack_lpt"](spark, sf_dir))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "pack_lpt_range_rebase",
        wins <= {"rb"}
        and n_scans == 0
        and "SortMergeJoin" not in p
        and "Python" not in p,
        f"window keys={sorted(wins)}; raw re-scans={n_scans}",
    )

    # 78. prefix_cache_stats: only the 60-bit prefix HASH shuffles
    #     (never prefix text), both rollups partial-agg map-side, the
    #     token total folds in as a broadcast 1-row aggregate
    p = plan_of(QUERIES["prefix_cache_stats"](spark, sf_dir))
    n_ex, fed = shuffle_exchanges_feed_aggregates(p)
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "prefix_cache_partial_aggs",
        n_ex >= 1 and fed
        and n_scans == 0
        and "Window" not in p
        and "SortMergeJoin" not in p
        and "Python" not in p,
        f"all {n_ex} Exchanges fed by partial agg; raw re-scans={n_scans}",
    )

    # 79. feature_label_pit: ONE event scan (checkpointed projection
    #     feeds bounds/features/labels), user-grain map-side collapse,
    #     no corpus-grain shuffle join, no window
    p = plan_of(QUERIES["feature_label_pit"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "feature_label_pit_single_scan",
        n_scans == 0
        and "Window" not in p
        and "Python" not in p
        and "CartesianProduct" not in p,
        f"raw re-scans={n_scans} (checkpointed projection); no Window",
    )

    # 80. rank_agreement: the agreement layer only touches the two
    #     retrievers' top-k survivors — query-grain joins/rollups, no
    #     corpus re-entry beyond the retrievers' own audited plans.
    #     Pinned structurally: raw scans stay exactly the 7 the two
    #     retriever subplans own (a regression that re-scans the corpus
    #     for the agreement layer fails here), every window partitions
    #     on a query/term-grain key, and the only nested-loop joins are
    #     the retrievers' condition-free broadcast crosses (corpus
    #     stats / static priors — the hybrid_rrf check-58l convention)
    p = plan_of(QUERIES["rank_agreement"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    check(
        "rank_agreement_topk_layer",
        n_scans == 7
        and wins <= {"query_id", "q_id", "cf", "gr"}
        and "CartesianProduct" not in p
        and not conditioned
        and "Python" not in p,
        f"raw scans={n_scans} (retrievers' own); window keys="
        f"{sorted(wins)}; no conditioned nested join, no python",
    )

    # 81. bfs_landmarks: min-plus rounds are equi-joins over the
    #     checkpointed sym list + partial-aggregable mins — no Window,
    #     no all-pairs; distances stay sparse until the final left join
    p = plan_of(QUERIES["bfs_landmarks"](spark, sf_dir))
    check(
        "bfs_landmarks_minplus",
        "partial_min" in p
        and "Window" not in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        "partial-agg'd min-plus rounds, no Window/all-pairs/python",
    )

    # 82. q_lateral_topk: Catalyst must rewrite the correlated LATERAL
    #     limit into the ranked-join form (a window/limit over the
    #     per-key group), never a per-row re-execution — no
    #     CartesianProduct, no Python
    p = plan_of(QUERIES["q_lateral_topk"](spark, sf_dir))
    check(
        "lateral_topk_rewrite",
        ("WindowGroupLimit" in p or "Window" in p)
        and "CartesianProduct" not in p
        and "Python" not in p,
        "correlated lateral limit rewritten to ranked join",
    )

    # 83. audio_vad_windows: the frame explode is bounded by each
    #     asset's own meta.n_frames; both islands windows + the
    #     segment rollup share ONE hash(doc_id, media_ref) Exchange —
    #     the ASSET grain, so multi-asset docs cannot merge segments
    #     across assets (the q_sessionize_batch rule).  The window-key
    #     regex captures BOTH partition keys so a regression back to
    #     doc_id-only windows fails here.
    p = plan_of(QUERIES["audio_vad_windows"](spark, sf_dir))
    n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    wins = set(
        re.findall(r"windowspecdefinition\((\w+)#\d+L?, (\w+)#", p)
    )
    check(
        "vad_single_exchange_islands",
        n_ex == 1
        and wins == {("doc_id", "media_ref")}
        and "Python" not in p,
        f"Exchanges={n_ex}, window keys={sorted(wins)}; asset-grain islands",
    )

    # 84. readability_fk: pure narrow map — single corpus scan, zero
    #     Exchange, no Join, no Python; the whole score is one
    #     codegen'd integer expression chain
    p = plan_of(QUERIES["readability_fk"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_ex = len(re.findall(r"Exchange \(\d+\)", p))
    check(
        "readability_narrow_map",
        n_scans == 1 and n_ex == 0 and "Join" not in p and "Python" not in p,
        f"scans={n_scans}, Exchanges={n_ex}; zero-shuffle integer score",
    )

    # 85. pack_stats: rides pack_sequences' audited sharded cumsum
    #     (two scans: main branch + the tiny shard-grain bases branch),
    #     windows only on the (lang, shard) grain, and the lang-grain
    #     rollup partial-aggregates — no product, no Python
    p = plan_of(QUERIES["pack_stats"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "pack_stats_rollup",
        n_scans == 2
        and wins <= {"lang"}
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"scans={n_scans} (layout's own), window keys={sorted(wins)}",
    )

    # 86. join_skew_diag: the key-grain count is localCheckpointed
    #     before its two-consumer fan-out (total + top-K), so the
    #     final plan has ZERO raw scans; the top-K is a distributed
    #     TakeOrderedAndProject, and the only nested-loop join is the
    #     condition-free 1-row total broadcast cross
    p = plan_of(QUERIES["join_skew_diag"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    check(
        "join_skew_diag_checkpointed_topk",
        n_scans == 0
        and "TakeOrderedAndProject" in p
        and not conditioned
        and "Python" not in p,
        f"raw scans={n_scans} (counts checkpointed); distributed top-K,"
        " condition-free 1-row cross only",
    )

    # 87. dedup_eval: the found side rides dedup_minhash_lsh's
    #     checkpointed plan (zero raw scans of its own), so the whole
    #     eval holds exactly ONE raw scan — the planted side's narrow
    #     filtered read; the compare is a pair-grain equi-join (never
    #     a product) into a 1-row aggregate, no Python
    p = plan_of(QUERIES["dedup_eval"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "dedup_eval_single_scan",
        n_scans == 1
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (planted side only; minhash checkpointed),"
        " pair-grain equi-join, no python",
    )

    # 88. langid_confusion: ONE corpus scan into the (lang, pred)
    #     partial agg; the row-share window runs over the bounded
    #     ≤|langs|² cell table and partitions on lang only — no join,
    #     no product, no Python anywhere
    p = plan_of(QUERIES["langid_confusion"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "langid_confusion_cell_window",
        n_scans == 1
        and wins <= {"lang"}
        and "Join" not in p
        and "Python" not in p,
        f"raw scans={n_scans}, window keys={sorted(wins)} (cell-table"
        " grain), no join/python",
    )

    # 89. q_python_udtf: the UDTF is the declared python surface —
    #     exactly ONE python eval node, fed by a scan whose doc_id cap
    #     reaches the parquet reader as a pushed filter (Catalyst does
    #     not push a post-lateral WHERE below a python UDTF, so the op
    #     pre-filters its input relation; a regression that moves the
    #     Filter back above BatchEvalPythonUDTF fails here)
    p = plan_of(QUERIES["q_python_udtf"](spark, sf_dir))
    pushed = re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id", p)
    # count from the details node list — the tree header repeats the
    # node name, so a bare substring count double-counts
    nodes = re.findall(r"\n\(\d+\) (\w+)", p)
    n_py = nodes.count("BatchEvalPythonUDTF")
    filt_below_udtf = (
        "Filter" in nodes
        and "BatchEvalPythonUDTF" in nodes
        and nodes.index("Filter") < nodes.index("BatchEvalPythonUDTF")
    )
    check(
        "python_udtf_bounded_input",
        bool(pushed) and n_py == 1 and filt_below_udtf,
        f"pushed doc_id cap={bool(pushed)}, python nodes={n_py}, "
        f"filter below UDTF={filt_below_udtf}",
    )

    # 90. q_collation: grouping runs ON the collated key (collate in
    #     the plan; SortAggregate is the engine's collated-agg shape),
    #     with a partial aggregate before the Exchange and a
    #     distributed TakeOrderedAndProject top-K — one scan, no python
    p = plan_of(QUERIES["q_collation"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "collation_agg_shape",
        "collate" in p.lower()
        and "partial" in p.lower()
        and "TakeOrderedAndProject" in p
        and n_scans == 1
        and "Python" not in p,
        f"collated partial agg, top-K, scans={n_scans}",
    )

    # 91. dq_checks: every rule is a conditional sum in ONE pass over
    #     the landing batch — two scans total (base + the planted
    #     variant branch of the union), partial agg feeds the single
    #     1-row Exchange, the rule unpivot (Generate) runs above the
    #     aggregate, no join/python
    p = plan_of(QUERIES["dq_checks"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "dq_checks_single_pass",
        n_scans == 2
        and "partial" in p.lower()
        and "Generate" in p
        and "Join" not in p
        and "Python" not in p,
        f"scans={n_scans} (base+variant union), partial-agg'd rule sums",
    )

    # 92. ref_integrity: each leg's orphan test is a left equi-join
    #     against a DISTINCT-key parent projection + a conditional
    #     1-row aggregate — no CartesianProduct anywhere, the
    #     nation-parent legs broadcast (BroadcastHashJoin present),
    #     and no Python
    p = plan_of(QUERIES["ref_integrity"](spark, sf_dir))
    check(
        "ref_integrity_key_joins",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "BroadcastHashJoin" in p
        and "Python" not in p,
        "distinct-key left joins (nation legs broadcast), no product",
    )

    # 93. ewma_dyadic: ONE scan, one hash(user_id) window Exchange
    #     (growing key), all lag math narrow above it — no join, no
    #     python
    p = plan_of(QUERIES["ewma_dyadic"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "ewma_single_window",
        n_scans == 1
        and n_ex == 1
        and wins == {"user_id"}
        and "Join" not in p
        and "Python" not in p,
        f"scans={n_scans}, Exchanges={n_ex}, window keys={sorted(wins)}",
    )

    # 94. value_histogram: the bin table is localCheckpointed before
    #     its two-consumer fan-out (rows + 1-row total), so the final
    #     plan holds ZERO raw scans; the total joins back as a
    #     condition-free 1-row broadcast cross; no Window (the
    #     growing-keys convention — no constant-key window), no python
    p = plan_of(QUERIES["value_histogram"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    conditioned = re.search(r"Join condition: (?!None)", p) is not None
    check(
        "value_histogram_checkpointed",
        n_scans == 0
        and "Window" not in p
        and not conditioned
        and "Python" not in p,
        f"raw scans={n_scans} (bins checkpointed), no window/python,"
        " condition-free 1-row cross only",
    )

    # 95. trend_ols: the (type, day) count table is localCheckpointed
    #     before its two-consumer fan-out (day-zero base + xy), so the
    #     final plan holds ZERO raw scans (this assertion caught the
    #     un-checkpointed first draft at scans=2); the per-type
    #     normal-equation sums partial-aggregate, the base joins back
    #     as a broadcast — no product, no window, no python
    p = plan_of(QUERIES["trend_ols"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "trend_ols_partial_sums",
        n_scans == 0
        and "partial" in p.lower()
        and "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "Window" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (daily counts checkpointed), partial-agg'd"
        " normal equations, broadcast base",
    )

    # 97. textrank_keywords: everything downstream of the two
    #     localCheckpoints (symmetric edge set + degree-joined edges)
    #     — the final plan holds ZERO raw scans (the corpus tokenizes
    #     exactly once, at checkpoint build); top-K is a distributed
    #     TakeOrderedAndProject, no product, no python
    p = plan_of(QUERIES["textrank_keywords"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "textrank_checkpointed_iterations",
        n_scans == 0
        and "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (edges checkpointed), distributed top-K",
    )

    # 98. sparse_cosine_topk: the weight table is localCheckpointed
    #     before its four-consumer fan-out (norms, prefix index, both
    #     verification legs) — ZERO raw scans in the final plan; the
    #     windows partition on doc_id (prefix cut) and a (top-k), both
    #     growing keys; candidate/verify joins are equi-joins (no
    #     product), no python
    p = plan_of(QUERIES["sparse_cosine_topk"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "sparse_cosine_checkpointed_two_phase",
        n_scans == 0
        and wins <= {"doc_id", "a"}
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (weights checkpointed), window keys="
        f"{sorted(wins)}",
    )

    # 99. ndcg_eval: the BM25 candidate relation is localCheckpointed
    #     before its two-consumer fan-out (ranked list + ideal
    #     ranking) — ZERO raw scans; both windows partition on
    #     query_id; query-grain join, no product, no python
    p = plan_of(QUERIES["ndcg_eval"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "ndcg_checkpointed_dual_window",
        n_scans == 0
        and wins == {"query_id"}
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (candidates checkpointed), window keys="
        f"{sorted(wins)}",
    )

    # 100. rouge_ngram_stats: the 50-row mutant side broadcast-joins
    #      the pushed-filter documents scan (2 scans total, both with
    #      the doc_id<50 filter pushed), clip lambdas are narrow above
    #      it — no shuffle Exchange at all, no window, no python
    p = plan_of(QUERIES["rouge_ngram_stats"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    check(
        "rouge_broadcast_narrow",
        n_scans == 2
        and n_ex == 0
        and "BroadcastHashJoin" in p
        and "Window" not in p
        and "Python" not in p,
        f"scans={n_scans} (both pushed), shuffle Exchanges={n_ex},"
        " broadcast pair spine",
    )

    # 101. redirect_resolve: the pointer table localCheckpoints before
    #      the doubling rounds — ZERO raw scans in the final plan;
    #      each round is an equi-self-join (no product), no window,
    #      no python
    p = plan_of(QUERIES["redirect_resolve"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "redirect_doubling_checkpointed",
        n_scans == 0
        and "CartesianProduct" not in p
        and "Window" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (pointers checkpointed), equi-join rounds",
    )

    # 102. cocitation_sim: edges localCheckpoint before the
    #      three-consumer fan-out (in-degree + both pair legs) — ZERO
    #      raw scans; pair join + degree joins are equi-joins, partial
    #      agg on the degree rollup, no window/python
    p = plan_of(QUERIES["cocitation_sim"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "cocitation_checkpointed_bounded_pairs",
        n_scans == 0
        and "partial" in p.lower()
        and "CartesianProduct" not in p
        and "Window" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (edges checkpointed), partial-agg'd degrees",
    )

    # 103. harmonic_centrality: the symmetric edge set localCheckpoints
    #      once; the ONLY raw scan left is the node spine of the final
    #      left join (doc_id-pruned); per-round mins partial-aggregate
    p = plan_of(QUERIES["harmonic_centrality"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "harmonic_checkpointed_bfs",
        n_scans == 1
        and "partial" in p.lower()
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (node spine only; edges checkpointed)",
    )

    # 104. sitemap_parse: ONE corpus scan; the rank window partitions
    #      on source (the per-domain enumeration a sitemap needs);
    #      xpath + explode are JVM-side (no python)
    p = plan_of(QUERIES["sitemap_parse"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "sitemap_single_scan_jvm_xpath",
        n_scans == 1
        and wins == {"source"}
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"scans={n_scans}, window keys={sorted(wins)}, JVM xpath",
    )

    # 105. dedup_containment: the shingle explode localCheckpoints
    #      before its four-consumer fan-out (sizes + rare + both
    #      self-join legs) — ZERO raw scans; the rare-band filter
    #      broadcasts; no window, no python
    p = plan_of(QUERIES["dedup_containment"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "containment_checkpointed_rare_band",
        n_scans == 0
        and "BroadcastHashJoin" in p
        and "Window" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (shingles checkpointed), broadcast rare band",
    )

    # 106. zipf_fit: ONE scan, partial-agg'd term counts, top-V as a
    #      distributed TakeOrderedAndProject, the rank window only
    #      over the <=V-row result; 1-row fit aggregate; no python
    p = plan_of(QUERIES["zipf_fit"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "zipf_single_scan_topv",
        n_scans == 1
        and "partial" in p.lower()
        and "TakeOrderedAndProject" in p
        and "Python" not in p,
        f"scans={n_scans}, partial-agg'd counts, distributed top-V",
    )

    # 107. burstiness_fano: ONE scan -> (type, hour) partial-agg ->
    #      type-grain rollup; no window, no join, no python
    p = plan_of(QUERIES["burstiness_fano"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "fano_double_rollup",
        n_scans == 1
        and "partial" in p.lower()
        and "Window" not in p
        and "Join" not in p
        and "Python" not in p,
        f"scans={n_scans}, partial-agg'd hour buckets, no join/window",
    )

    # 108. h_index_domains: in-degrees partial-aggregate; the rank
    #      window partitions on source; <=3 pruned scans (node spine,
    #      edge base, count); no python, no product
    p = plan_of(QUERIES["h_index_domains"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "h_index_source_window",
        n_scans <= 3
        and wins == {"source"}
        and "partial" in p.lower()
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"scans={n_scans}, window keys={sorted(wins)}",
    )

    # 110. ppr_seeds: the pagerank shape (narrow md5 edge expansion
    #      deliberately recomputed per iteration — doc_id-only, no
    #      text), partial-agg'd contribution sums, seed indicator is a
    #      predicate not a join against a seed table; no product/python
    p = plan_of(QUERIES["ppr_seeds"](spark, sf_dir))
    check(
        "ppr_pagerank_shape",
        "partial" in p.lower()
        and "CartesianProduct" not in p
        and "Window" not in p
        and "Python" not in p,
        "partial-agg'd trust propagation, predicate seeds",
    )

    # 111. degree_assortativity: edges localCheckpoint before the
    #      two-consumer fan-out (in-degrees + the xy join) — ZERO raw
    #      scans; moments are a 1-row partial aggregate; no window
    p = plan_of(QUERIES["degree_assortativity"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "assortativity_checkpointed_moments",
        n_scans == 0
        and "partial" in p.lower()
        and "Window" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (edges checkpointed), 1-row moment rollup",
    )

    # 112. q_window_range_frame: ONE scan, ONE hash(user_id) window
    #      Exchange, both frame aggregates share the window; no join
    p = plan_of(QUERIES["q_window_range_frame"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "range_frame_single_window",
        n_scans == 1
        and n_ex == 1
        and wins == {"user_id"}
        and "Join" not in p
        and "Python" not in p,
        f"scans={n_scans}, Exchanges={n_ex}, window keys={sorted(wins)}",
    )

    # 113. domain_dup_rate: the hash projection localCheckpoints
    #      before its two-consumer fan-out (group sizes + member join)
    #      — ZERO raw scans; group sizes partial-aggregate; no window
    p = plan_of(QUERIES["domain_dup_rate"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "domain_dup_checkpointed",
        n_scans == 0
        and "partial" in p.lower()
        and "Window" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (hashes checkpointed), partial-agg'd groups",
    )

    # 114. embedding_dim_stats: ONE scan -> posexplode -> dim-grain
    #      partial agg; no window, no join, no python
    p = plan_of(QUERIES["embedding_dim_stats"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "embedding_dim_single_scan",
        n_scans == 1
        and "partial" in p.lower()
        and "Window" not in p
        and "Join" not in p
        and "Python" not in p,
        f"scans={n_scans}, partial-agg'd dim rollup",
    )

    # 115. kwic_concordance: the tokenization localCheckpoints before
    #      its two-consumer fan-out (workload stats + pos explode) —
    #      ZERO raw scans; the workload broadcast-joins; windows are
    #      the term-grain cap + the tiny post-limit workload window
    p = plan_of(QUERIES["kwic_concordance"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    wins = set(re.findall(r"windowspecdefinition\((\w+)#", p))
    check(
        "kwic_checkpointed_broadcast",
        n_scans == 0
        and "BroadcastHashJoin" in p
        and wins <= {"term", "cf"}
        and "CartesianProduct" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (tokens checkpointed), window keys="
        f"{sorted(wins)}",
    )

    # 116. transcript_vad_align: the media spine localCheckpoints
    #      before its two-consumer fan-out — ZERO raw scans; the VAD
    #      islands windows stay on the FULL (doc_id, media_ref) asset
    #      grain (the two-key regex, check 83's rule — a single-key
    #      capture passes doc_id-only windows and is vacuous for the
    #      pass-18 cross-asset bug) and the interval join carries
    #      media_ref in its keys; no product, no python
    p = plan_of(QUERIES["transcript_vad_align"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    winpairs = set(
        re.findall(r"windowspecdefinition\((\w+)#\d+L?, (\w+)#", p)
    )
    join_has_media = re.search(
        r"Join[^\n]*media_ref", p
    ) is not None or re.search(r"hashpartitioning\(doc_id#\d+L?, media_ref#", p)
    check(
        "transcript_align_asset_grain",
        n_scans == 0
        and winpairs == {("doc_id", "media_ref")}
        and bool(join_has_media)
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Python" not in p,
        f"raw scans={n_scans} (media checkpointed), window key pairs="
        f"{sorted(winpairs)}, join carries media_ref",
    )

    # 117. q_explode_outer: narrow scan -> filter -> OUTER generate;
    #      zero Exchange, no python
    p = plan_of(QUERIES["q_explode_outer"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    check(
        "explode_outer_narrow",
        n_scans == 1
        and n_ex == 0
        and "Generate" in p
        and "Python" not in p,
        f"scans={n_scans}, Exchanges={n_ex}, outer generate",
    )

    # 109. GLOBAL REGISTRY SWEEP (round-3 verdict item 8; runs LAST):
    #     EVERY registry entry's physical plan must be free of the two
    #     scale killers — CartesianProduct (all-pairs blowup) and
    #     row-wise BatchEvalPython (per-row python in the hot path).
    #     The sanctioned Arrow surfaces (ArrowEvalPython,
    #     FlatMapGroupsInPandas / InArrow, MapInArrow/MapInPandas) are
    #     different node names and never match; BatchEvalPythonUDTF
    #     (Arrow-batched lateral, individually audited by check 89) is
    #     excluded ONLY because the formatted explain renders it as
    #     "BatchEvalPythonUDTF (n)" — no " (" straight after
    #     "BatchEvalPython" — which the literal " \(" in the regex
    #     requires; there is no \b doing this work, so keep the
    #     space-paren if you edit the pattern.  The ~100 individual
    #     checks above pin stronger per-op properties; this closes the
    #     long tail.  Whitelists are explicit and empty.
    #     Skippable for quick iterations: FREKI_AUDIT_NO_SWEEP=1.
    if not os.environ.get("FREKI_AUDIT_NO_SWEEP"):
        allow_cartesian: set[str] = set()
        allow_row_python: set[str] = set()
        bad: list[str] = []
        for slug, fn in QUERIES.items():
            try:
                p = plan_of(fn(spark, sf_dir))
            except Exception as e:  # a plan that cannot build is a failure
                bad.append(f"{slug}: plan build failed: {type(e).__name__}")
                continue
            if "CartesianProduct" in p and slug not in allow_cartesian:
                bad.append(f"{slug}: CartesianProduct")
            # the literal ' (' (not a \b) keeps BatchEvalPythonUDTF
            # (Arrow-batched lateral, audited by check 89) out of the
            # match — see the block comment above
            if (
                re.search(r"BatchEvalPython \(", p)
                and slug not in allow_row_python
            ):
                bad.append(f"{slug}: BatchEvalPython")
        check(
            "global_no_cartesian_no_row_python",
            not bad,
            f"{len(QUERIES)} entries swept"
            + (f"; offenders: {bad}" if bad else ", 0 offenders"),
        )

        # 118. registry-wide ORACLE dtype sweep (runs with 109, same
        #      guard): every oracle must BIND to driver-safe DuckDB
        #      result types — HUGEINT floats in the driver's pandas
        #      canon (r4's kmeans_update/event_transitions reds) and
        #      nested types crash its sort (bpe_ids).  Bind-time only:
        #      no oracle executes.  Same detector as the local gate
        #      and tests/test_driver_compat.py.
        import duckdb

        from verify_queries import create_views, oracle_dtype_offenders

        from __spark_entry__ import oracle_sql

        con = duckdb.connect()
        create_views(con, sf_dir)
        orc = oracle_sql()
        dbad = oracle_dtype_offenders(con, orc)
        check(
            "global_oracle_dtypes_driver_safe",
            not dbad,
            f"{len(orc)} oracles bound"
            + (f"; offenders: {dbad}" if dbad else ", 0 driver-unsafe"),
        )

    spark.stop()
    print(f"failed={len(failures)}" + (f" ({', '.join(failures)})" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
