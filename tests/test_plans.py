"""Plan-quality gates: shuffle counts, column pruning, broadcast joins.

These encode the 100 TB design contract — if a refactor silently adds an
exchange per indicator or drags unused columns through the scan, these
fail before a benchmark ever notices."""

from __future__ import annotations

from pyspark.sql import functions as F

from indicators_spark import Indicators
from indicators_spark.plans import exchange_count, plan_string, scan_columns
from indicators_spark.plans.inspect import broadcast_join_count
from indicators_spark.queries import QUERIES
from indicators_spark.sources.prices import prices_from_events

from conftest import SF_SMOKE


def test_flagship_pipeline_two_exchanges(spark):
    """sma + bollinger + rsi + daily_return: ONE hash exchange on symbol
    (shared by the prices derivation and every per-symbol window) plus ONE
    single-partition exchange forced by the faithful global rsi delta."""
    p = prices_from_events(spark, SF_SMOKE)
    df = (
        Indicators(p, order_by=("timestamp", "seq"))
        .sma(["close"], 20)
        .bollinger_bands(["close"], 20, 2)
        .rsi(["close"], 14)
        .daily_return(["close"])
        .collect()
    )
    plan = plan_string(df)
    assert exchange_count(plan) <= 2, plan


def test_per_symbol_mode_single_exchange(spark):
    """In per_symbol mode even 'global' ops partition by symbol — the whole
    indicator chain runs off one exchange."""
    p = prices_from_events(spark, SF_SMOKE)
    df = (
        Indicators(p, order_by=("timestamp", "seq"), partition_mode="per_symbol")
        .sma(["close"], 20)
        .atr(14)
        .rsi(["close"], 14)
        .donchian_channel(20)
        .collect()
    )
    plan = plan_string(df)
    assert exchange_count(plan) <= 1, plan


def test_scan_prunes_unused_columns(spark):
    """The prices derivation must not drag `props` (unused) through the
    events scan."""
    p = prices_from_events(spark, SF_SMOKE)
    df = Indicators(p, order_by=("timestamp", "seq")).sma(["close"], 5).collect()
    cols = scan_columns(plan_string(df.select("symbol", "seq", "close_sma_5")))
    assert "props" not in cols, cols


def test_filter_pushdown_reaches_scan(spark):
    p = prices_from_events(spark, SF_SMOKE).filter(F.col("seq") < 100)
    plan = plan_string(p)
    assert "PushedFilters" in plan or "LessThan(event_id" in plan or "seq" in plan


def test_q3_uses_broadcast_join(spark):
    df = QUERIES["tpch_q3_topk"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert broadcast_join_count(plan) >= 1, plan


def test_chained_ewm_ops_fuse_into_one_pass(spark):
    """ema + macd + ppo are three EWM-based operators; the pending-program
    fusion in core._ewm must run them as ONE FlatMapGroupsInPandas (one
    exchange, one Python roundtrip), not three."""
    p = prices_from_events(spark, SF_SMOKE)
    df = (
        Indicators(p, order_by=("timestamp", "seq"))
        .ema(["close"], 20)
        .macd(["close"])
        .ppo()
        .collect()
    )
    plan = plan_string(df)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_ewm_fusion_flushes_on_partition_change(spark):
    """A global-op EWM (tsi, faithful mode) cannot fuse with a per-symbol
    one (ema) — the partitioning differs, so two passes are correct."""
    p = prices_from_events(spark, SF_SMOKE)
    ind = Indicators(p, order_by=("timestamp", "seq")).ema(["close"], 10)
    ind.true_strength_index(["close"], 13, 25)
    plan = plan_string(ind.collect())
    assert plan.count("FlatMapGroupsInPandas") == 2, plan


def test_range_join_avoids_nested_loop(spark):
    """The bucketed range join must plan as an equi-join (sort-merge or
    hash) — never the O(n·m) BroadcastNestedLoopJoin Spark picks for a raw
    BETWEEN predicate."""
    df = QUERIES["range_join_intervals"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_lsh_reuses_signature_exchange(spark):
    """The LSH self-join must compute the shingle->minhash aggregate ONCE:
    both join sides shuffle on (band, key), so their exchange subtrees
    canonicalize identically and ReuseExchange replays one for the other.
    Without this the whole signature pipeline runs twice per query."""
    from indicators_spark.functions import dedup
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = dedup.minhash_lsh_candidates(docs)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in plan, plan


def test_tpch_semi_anti_join_strategies(spark):
    """q4's EXISTS runs as a LeftSemi, q16/q22's NOT EXISTS as LeftAnti —
    never as an inner join + distinct (which would shuffle-dedup the big
    side) — and q14/q19 broadcast the part dimension."""
    plans = {
        name: plan_string(QUERIES[name].spark(spark, SF_SMOKE))
        for name in (
            "tpch_q4_semi",
            "tpch_q16_anti",
            "tpch_q22_scalar_anti",
            "tpch_q14_promo",
            "tpch_q19_disjunct",
        )
    }
    assert "LeftSemi" in plans["tpch_q4_semi"]
    assert "LeftAnti" in plans["tpch_q16_anti"]
    assert "LeftAnti" in plans["tpch_q22_scalar_anti"]
    for name in ("tpch_q14_promo", "tpch_q19_disjunct"):
        assert broadcast_join_count(plans[name]) >= 1, plans[name]


def test_q13_outer_join_preserves_zero_customers(spark):
    plan = plan_string(QUERIES["tpch_q13_outer"].spark(spark, SF_SMOKE))
    assert "LeftOuter" in plan or "RightOuter" in plan, plan


def test_sampling_filter_pushed_to_scan(spark):
    """The md5 hash-sample predicate is a plain filter — it must reach the
    parquet scan as a data filter (no shuffle before it) so a 10% sample
    reads like a 10% scan at 100 TB (row-group pruning aside)."""
    df = QUERIES["sample_hash_10pct"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert exchange_count(plan) == 0, plan


def test_tpch_rel2_join_strategies(spark):
    """The round-out shapes keep their intended physical strategies: q20's
    nested IN chain is two LeftSemi probes, q21 decorrelates to LeftSemi +
    LeftAnti on the fact table, and the wide joins (q8, q9, q17) broadcast
    every dimension-side input instead of shuffling the fact table per
    join."""
    plans = {
        name: plan_string(QUERIES[name].spark(spark, SF_SMOKE))
        for name in (
            "tpch_q20_semi_chain",
            "tpch_q21_lone_late",
            "tpch_q8_market_share",
            "tpch_q9_profit",
            "tpch_q17_small_qty",
        )
    }
    assert plans["tpch_q20_semi_chain"].count("LeftSemi") == 2
    assert "LeftSemi" in plans["tpch_q21_lone_late"]
    assert "LeftAnti" in plans["tpch_q21_lone_late"]
    assert broadcast_join_count(plans["tpch_q8_market_share"]) >= 4
    assert broadcast_join_count(plans["tpch_q9_profit"]) >= 3
    assert broadcast_join_count(plans["tpch_q17_small_qty"]) >= 2
    # q17's only exchanges: the decorrelated per-part avg (one hash
    # shuffle) and the final single-row agg — the brand-filtered probe
    # side joins with zero additional exchanges.
    assert exchange_count(plans["tpch_q17_small_qty"]) <= 3, plans[
        "tpch_q17_small_qty"
    ]


def test_bm25_topk_is_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition heaps
    + driver merge), never an unpartitioned sort/row_number over the whole
    corpus — the single-task shape that dies at scale."""
    df = QUERIES["bm25_search"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_tfidf_pairs_posting_join_is_hash(spark):
    """The sparse TF-IDF pairwise dot (large-vocab path, forced via
    dense_max_vocab=0) must ride the token-keyed posting join (hash join
    on tok) — never a cartesian over documents.  (The 1-row n_docs scalar
    legitimately cross-joins as a broadcast.)"""
    from indicators_spark.functions.similarity import tfidf_cosine_pairs
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = tfidf_cosine_pairs(docs, threshold=0.5, dense_max_vocab=0)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    import re

    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[tok", plan), plan


def test_tfidf_pairs_dense_dispatch_no_pair_shuffle(spark):
    """The catalog corpus has a bounded vocabulary, so the query must take
    the dense-GEMM path: scoring is a mapInPandas over broadcast state —
    no join and no aggregate anywhere downstream of the matrix fold."""
    df = QUERIES["tfidf_cosine_pairs"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (tiny) benchmark n-gram side —
    the corpus side never shuffles for the semi-join."""
    df = QUERIES["decontaminate_ngram"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_chunked_cumulative_single_partition_budget(spark):
    """The distributed cumulative twins may use at most ONE SinglePartition
    exchange — the ≤buckets-row offset prefix-sum — never one over the
    data (the faithful forms, by contrast, are single-task by definition)."""
    for name in ("vwap_chunked", "obv_chunked", "analytic_global_rownum"):
        df = QUERIES[name].spark(spark, SF_SMOKE)
        plan = plan_string(df)
        assert plan.count("Exchange SinglePartition") <= 1, (name, plan)


def test_pq_encode_is_map_only(spark):
    """PQ encoding must be a single map stage (one Arrow-batched
    mapInPandas over the scan) — zero exchanges however large the corpus
    (the codebook collect is its own tiny job, not in the encode plan)."""
    from indicators_spark.functions.similarity import pq_encode
    from indicators_spark.sources.prices import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    enc = pq_encode(emb, n_sub=8, n_codes=16)
    plan = plan_string(enc)
    assert exchange_count(plan) == 0, plan


def test_vocab_stats_topk_is_take_ordered(spark):
    """The vocabulary top-k must heap-merge (TakeOrderedAndProject over
    the aggregated vocab), never global-sort the full vocabulary; the
    rank window runs after the limit, on top_k rows only."""
    df = QUERIES["corpus_vocab_stats"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_ivfpq_corpus_side_is_map_only(spark):
    """The IVFPQ stored index — (cell, PQ codes) per corpus row — must be
    zero-exchange: coarse assignment and all n_sub code argmins happen in
    a single Arrow-batched map stage feeding the broadcast join."""
    from indicators_spark.queries.ext import _PQ_CODES, _PQ_SUB  # noqa: F401
    from indicators_spark.sources.prices import load_table

    df = QUERIES["similarity_knn_ivfpq"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    # corpus scan feeds the broadcast-hash join directly; the ONLY hash
    # exchange in the whole query is the per-query top-k window.
    assert "BroadcastHashJoin" in plan, plan
    assert exchange_count(plan) == 1, plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime row-level filtering: when a selective dim filter feeds a
    shuffle join, Catalyst builds a bloom filter from the dim keys and
    applies it to the FACT scan side — fact rows that can't join are
    dropped before the shuffle.  At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching slice; the
    size thresholds (off at test scale) exist so tiny inputs skip the
    overhead.  This pins that the engine's join shapes remain eligible
    for the optimization."""
    from indicators_spark.sources.prices import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_string(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_linear_attribution_single_user_exchange(spark):
    """Linear multi-touch attribution must cost what last-touch costs:
    the running-count windows and the purchase filter ride ONE user-keyed
    hash exchange; the only other exchange is the 3-row credit groupBy.
    A self-join formulation (every purchase × its prior touches) would
    show extra joins/exchanges here."""
    df = QUERIES["events_attribution_linear"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert exchange_count(plan) <= 2, plan
    assert "Join" not in plan, plan


def test_rolling_median_single_symbol_exchange(spark):
    """The window-aggregate percentile shares the standard per-symbol
    exchange — exactly one hash exchange, no extra stage for the
    percentile."""
    df = QUERIES["rolling_median"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert exchange_count(plan) == 1, plan


def test_pagerank_state_broadcasts(spark):
    """Each PageRank superstep joins the (tiny) rank state by broadcast —
    the edge list must never hash-shuffle for the join itself (its only
    exchanges are the per-superstep inflow groupBys + the one-time outw
    build + the final left join back to nodes)."""
    df = QUERIES["graph_pagerank_nations"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert broadcast_join_count(plan) >= 3, plan


def test_covariance_partials_no_wide_shuffle(spark):
    """The covariance matrix must shuffle only the dim^2/2 partial-moment
    rows per partition (one exchange for the (i, j) reduce) — never an
    exploded n*dim or joined n*dim^2 intermediate."""
    from indicators_spark.functions.similarity import covariance_matrix
    from indicators_spark.sources.prices import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = covariance_matrix(emb, dim=64)
    plan = plan_string(df)
    assert exchange_count(plan) == 1, plan
    assert "Join" not in plan, plan


def test_pagerank_supersteps_read_cached_edges(spark):
    """The iterative graph kernels persist their normalized edge list; the
    final plan must actually READ that cache (InMemoryTableScan) in every
    superstep instead of replaying the edge derivation — and under
    broadcast_ranks the per-iteration rank joins must all be broadcasts."""
    from indicators_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("a", "c", 3.0)],
        "src string, dst string, w double",
    )
    ranks = pagerank(edges, iters=3, weight="w")
    plan = plan_string(ranks)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_substring_dedup_bounded_plan(spark):
    """ExactSubstr spans: the duplicated-seed discovery must be a
    hash-shuffle on the gram key (groupBy + equi join), NEVER an
    all-pairs/nested-loop stage, and document text must not survive past
    the scan-side hash (the shuffle carries int keys only)."""
    from indicators_spark.functions.dedup import substring_dup_spans
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = substring_dup_spans(docs, n=10)
    df.write.format("noop").mode("overwrite").save()
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly the two inherent shuffles: gram-hash window + doc-key merge
    # (the (_id,_rid) agg and downstream doc-key windows reuse the _id
    # exchange — hashpartitioning(_id) satisfies ClusteredDistribution
    # over any superset key list)
    assert exchange_count(plan) <= 2, plan


def test_substring_clean_and_incremental_bounded_plans(spark):
    """The cleaned-corpus rewrite and the batch-vs-corpus incremental
    variant must stay hash-join shaped: no nested-loop/cartesian stage
    anywhere (the span list joins back on the doc key; batch grams
    semi-join the history gram set on the 8-byte hash)."""
    from pyspark.sql import functions as F

    from indicators_spark.functions.dedup import (
        substring_dedup_against_corpus,
        substring_dedup_clean,
    )
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    clean = substring_dedup_clean(docs, n=10)
    clean.write.format("noop").mode("overwrite").save()
    p1 = plan_string(clean)
    assert "BroadcastNestedLoopJoin" not in p1 and "CartesianProduct" not in p1, p1

    hist = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    incr = substring_dedup_against_corpus(batch, hist, n=10)
    incr.write.format("noop").mode("overwrite").save()
    p2 = plan_string(incr)
    assert "BroadcastNestedLoopJoin" not in p2 and "CartesianProduct" not in p2, p2
    # the history side reaches the semi join as bare distinct gram hashes
    assert "LeftSemi" in p2, p2


def test_key_skew_profile_is_take_ordered(spark):
    """The skew profiler's top-k must plan as TakeOrderedAndProject —
    never a global sort or single-partition window over the full key
    table (the tool that diagnoses skew must not itself be skew-shaped)."""
    from indicators_spark.scale import profile_key_skew
    from indicators_spark.sources.prices import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    df = profile_key_skew(orders, key="o_custkey", top_k=20)
    df.write.format("noop").mode("overwrite").save()
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_dsir_plan_broadcast_ratio_topk_heap(spark):
    """DSIR: the <=buckets-row log-ratio table must broadcast onto the
    feature stream (never shuffle the features against it), the final
    top-k must heap-merge (TakeOrderedAndProject, no global sort), and
    the only single-partition stages may be the two 1-row scalar totals
    (tt / rt) feeding their broadcasts — never one over data."""
    from indicators_spark.queries import QUERIES

    df = QUERIES["sample_dsir"].spark(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert broadcast_join_count(plan) >= 1, plan
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_epoch_shuffle_single_partition_budget(spark):
    """The epoch permutation may use at most ONE SinglePartition exchange
    (the <=buckets-row offset prefix sum) — never a global sort of the
    data (the whole point vs Window.orderBy row_number)."""
    from indicators_spark.queries import QUERIES

    df = QUERIES["sample_epoch_shuffle"].spark(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = plan_string(df)
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_line_dedup_text_never_shuffles(spark):
    """Corpus-wide line dedup shuffles HASHES, not text: the two
    hash-keyed groupBys are the only shuffles, the boilerplate set and
    the per-doc removed-position arrays come back via broadcast joins,
    and no Exchange row carries the text/line column."""
    df = QUERIES["dedup_lines_global"].spark(spark, SF_SMOKE)
    plan = plan_string(df)
    assert exchange_count(plan) <= 4, plan
    assert broadcast_join_count(plan) >= 2, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "line#" not in ln and "text#" not in ln, ln


def test_per_symbol_donchian_keeps_classic_sliding_frame(spark):
    """per_symbol mode must NOT take the van Herk block decomposition:
    the plain symbol-partitioned sliding frame is already parallel and
    fuses into the chain's single exchange, while the blocked form adds
    block-keyed sorts/windows (the r13 pipeline_per_symbol regression).
    Pin the plan: no block bookkeeping column, one Sort."""
    p = prices_from_events(spark, SF_SMOKE)
    df = (
        Indicators(p, order_by=("timestamp", "seq"), partition_mode="per_symbol")
        .donchian_channel(20)
        .collect()
    )
    plan = plan_string(df)
    assert "_dc_blk" not in plan, plan
    assert plan.count("Sort ") + plan.count("Sort[") <= 2, plan
