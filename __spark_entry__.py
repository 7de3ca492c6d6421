"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The catalog itself lives in ``indicators_spark.queries`` (one entry per
implemented operator from SURVEY.md §2, each with its ANSI-SQL oracle);
this module is a thin adapter.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: OHLCV bars derived from
    ``events``, then a chained indicator pipeline (sma + bollinger + rsi +
    macd over per-symbol windows) — one exchange for all window ops."""
    from indicators_spark import Indicators
    from indicators_spark.sources import prices_from_events

    prices = prices_from_events(spark, "/root/testdata/sf0.001")
    ind = (
        Indicators(prices, order_by=("timestamp", "seq"))
        .sma(["close"], 20)
        .bollinger_bands(["close"], 20, 2)
        .rsi(["close"], 14)
        .daily_return(["close"])
    )
    return ind.collect()


#: Queries whose code or oracle semantics changed in the named round —
#: they outrank ordinary green rotation until the driver re-verifies them
#: (an entry self-clears once its latest green row is >= the listed round,
#: so this map only ever grows stale-harmless).  Round 6 proved the hole
#: this closes: five queries' semantics changed and the all-green catalog
#: sent the driver's ~50-slot budget to registration slots 0-49, leaving
#: the touched code with zero fresh driver evidence.
_TOUCHED: dict[str, int] = {
    "similarity_knn_hamming": 6,
    "embedding_binary_quantize": 6,
    "dedup_substring_clean": 6,
    "sample_cap_per_source": 7,  # r6 tiebreak option; r7 tiebreak hash form
    "analytic_weighted_quantiles": 7,  # r6 ulp fallback; r7 lag(_cum) _before
    "rolling_median": 7,
    # r7: kmeans_lloyd/_assign_arrow gained the emit="dist" path (default
    # behavior unchanged, but the assign kernel's code was touched)
    "kmeans_train_assign": 7,
    # r7: bigram construction swapped to the shared word_bigram_structs
    # helper (plan-identical, but the code was touched)
    "lm_perplexity": 7,
    # r8 ADVICE fixes — no-free-count dispatch (_dispatch_rows) in the
    # approx module + filter_by_quality_quantile:
    "filter_quality_quantile": 8,
    "filter_quality_quantile_sketch": 8,
    "analytic_winsorize": 8,
    "analytic_histogram_equidepth": 8,
    "profile_lineitem": 8,
    # r8: zero-norm exclusion unified across mmr_rerank / grouped fast
    # path / oracle, plus persist→localCheckpoint materialization:
    "similarity_mmr_topk": 8,
    # r8: winnowing pos-cap enforcement (raise_error in the packed key)
    # + fps persist→localCheckpoint:
    "dedup_winnowing_pairs": 8,
    # r8: eager numeric-id guard in lsh_dedup_keep_best:
    "dedup_cc_keep_best": 8,
    # r8: persist→localCheckpoint in the query bodies:
    "filter_ccnet_buckets": 8,
    "filter_quality_ensemble": 8,
    "basket_part_pairs": 8,
    # r8: minhash_dedup_against_corpus gained the optional batch_bands
    # fast path for the ingest sink (default path byte-identical, but
    # the operator's code was touched):
    "dedup_minhash_incremental": 8,
    # r9: epoch_shuffle's md5-order-key construction moved to the shared
    # sampling._order_key helper (expression-identical by construction,
    # pinned in tests/test_sampling.py, but the operator's code was
    # touched).  Deliberately fills the round's 50th slot: 2 new
    # registrations + this + the 47-query r2/r3 evidence tail = 50.
    "sample_epoch_shuffle": 9,
    # r11: the backward halo's routing moved to the shared
    # _halo_route helper (row-multiset equality pinned in
    # tests/test_scale.py, and all three re-verified green against
    # their oracles locally post-refactor) — the halo/lag kernels these queries dispatch to were
    # touched, so their green rows predate the code:
    "obv_chunked": 11,
    # r12: the fluent halo session's budget accounting was rewritten
    # (ADVICE r11 high — sticky per-operator spec charges, core.py) and
    # bookkeeping columns were hidden from name resolution; these two
    # run the fluent halo dispatch end-to-end, so their r11 green rows
    # predate the code:
    "lineitem_rsi_halo": 12,
    "lineitem_donchian_halo": 12,
    # r12: knn_ivf's centroid collect / cell fold / probe+re-rank moved
    # to the shared ivf_centroids / ivf_cell_scores / ivf_assign_cells /
    # _ivf_search helpers (expression-identical by construction, and the
    # new from-index twin pins bit-equality), but the code was touched:
    "similarity_knn_ivf": 12,
    "similarity_ivf_recall": 12,
    # r13: the registered selection pair re-pointed at the multi-rank
    # kth_elements kernel (shared refinement passes; frac→rank now
    # exact integer arithmetic), and the weighted grouped engine's
    # integral-weight guard moved to the shared _integral_weight_expr
    # helper (decimal-aware):
    "analytic_median_selection": 13,
    "analytic_weighted_median_selection": 13,
    "analytic_group_weighted_median": 13,
    # r13: kmeans_lloyd's training loop extracted to the shared
    # _kmeans_train (bit-identity pinned in
    # tests/test_oracle_parity_r13.py), consumed by these two:
    "kmeans_train_assign": 13,
    "filter_ssl_prototypes": 13,
    # r13: fluent halo session touched again (pending-spec boundary
    # assert, bare-relation rowCount guard, dual-mode binding sniff on
    # the _with path):
    "lineitem_rsi_halo": 13,
    "lineitem_donchian_halo": 13,
    "lineitem_rsi_halo_hinted": 13,
    # r13 optimization round: paths whose kernels were rewritten r13 but
    # which the r13 driver rotation did not sample (VERDICT r13 #4 — the
    # rotation must clear them before their green rows mean anything):
    "similarity_cosine_pairs": 13,
    "similarity_knn_ivf": 13,
    "similarity_knn_ivfpq": 13,
    "similarity_knn_ivf_index": 13,
    "similarity_ivf_recall": 13,
    "similarity_knn_lsh": 13,
    "decontaminate_neardup": 13,
    "dedup_jaccard_prefix": 13,
    "dedup_ngram_jaccard": 13,
    "fill_null_forward": 13,
    "similarity_kcenter_select": 13,
    "similarity_kcenter_carry": 13,
    "graph_pagerank_nations": 13,
    "dedup_lines_within_doc": 13,
    "analytic_group_median_selection": 13,
    # r14: one fused per-group stats pass feeds bounds/nper/ntot as
    # driver literals (17 -> 14 jobs):
    "quality_quantile_normalize": 14,
    # r14 optimization round touches: donchian dispatch gate (blocked
    # path now faithful-global only), simhash/cdc materialization made
    # lazy, tfidf dispatch probe capped, robust_scale prior-stats
    # NaN/inf fix (ADVICE r13 high):
    "dedup_simhash": 14,
    "dedup_simhash_pairs": 14,
    "chunk_cdc_dedup": 14,
    "tfidf_cosine_pairs": 14,
    "tfidf_cosine_pairs_pruned": 14,
    "analytic_robust_scale": 14,
    "donchian_channel": 14,
    "lineitem_donchian": 14,
    "lineitem_donchian_halo": 14,
    # r14: selection kernels gained the complete-value-table fast path
    # (speculative one-job collect + exact driver walk — equivalence
    # pinned in tests/test_multi_selection.py, sf0.01+sf0.1 sweeps
    # green):
    "analytic_median_selection": 14,
    "analytic_group_median_selection": 14,
    "analytic_weighted_median_selection": 14,
    "analytic_group_weighted_median": 14,
    "analytic_group_weighted_tail": 14,
    # r14 paths missing from this dict at the round-14 close (VERDICT r14
    # #2): the logreg label count folded into the first gradient job,
    # and the winnowing / BPE / MMR operators' eager materializations
    # made lazy:
    "classifier_quality_logreg": 14,
    "dedup_winnowing_pairs": 14,
    "text_bpe_encode": 14,
    "text_bpe_merges": 14,
    "similarity_mmr_topk": 14,
    # r15: the four exact-selection kernels folded into one engine (one
    # refinement loop, one driver walk, one frac→rank rule; NaN group
    # keys kept as one group on every path):
    "analytic_median_selection": 15,
    "analytic_group_median_selection": 15,
    "analytic_robust_scale": 15,
    "analytic_weighted_median_selection": 15,
    "analytic_group_weighted_median": 15,
    "analytic_group_weighted_tail": 15,
    # r15: fluent halo session touched again (the opt-in dual session
    # and its binding sniff removed from _halo_part / _halo_bind_ready /
    # _halo_decide):
    "lineitem_rsi_halo": 15,
    "lineitem_donchian_halo": 15,
    "lineitem_rsi_halo_hinted": 15,
    # r16: one halo constructor (scale.halo_frame) and one bucket-offset
    # scan (grouped_row_number with no group replaces global_row_number;
    # global_cum_sum shares the scan); the BPE encoder lost its chain arm:
    "analytic_global_rownum": 16,
    "quality_quantile_normalize": 16,
    "lineitem_rsi_halo": 16,
    "lineitem_donchian_halo": 16,
    "lineitem_rsi_halo_hinted": 16,
    "vwap_chunked": 16,
    "obv_chunked": 16,
    "sample_epoch_shuffle": 16,
    "pack_token_stream_128": 16,
    "text_bpe_encode": 16,
}


def _evidenced() -> dict[str, int]:
    """Latest round with a green driver CORRECTNESS row, per query name.

    The driver verifies queries in dict-insertion order under a ~50-slot
    budget (round 1 covered the first 50 of 125), so ``queries()`` orders
    the catalog so the budget lands where evidence is weakest — see
    :func:`_ordered_names`.
    """
    import json

    green: dict[str, int] = {}
    for p in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(p.stem.split("_r")[1])
        except (IndexError, ValueError):
            rnd = 0
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict) or r.get("err"):
                continue
            if r.get("rows_match") and r.get("schema_match") is not False and r.get(
                "hash_match", True
            ):
                green[name] = max(rnd, green.get(name, 0))
    return green


def _ordered_names(green: dict[str, int] | None = None) -> list[str]:
    """Driver-facing catalog order, three tiers so the ~50-slot budget
    tracks evidence weakness:

    1. **never-green** (no green row in any ``CORRECTNESS_r*.json``) —
       registration order;
    2. **touched-since-green** (listed in :data:`_TOUCHED` with a round
       newer than the query's latest green row) — code or oracle changed
       after its last verification, so "green" is stale;
    3. **green rotation** — ascending by latest-green round, registration
       order within a round, so the budget continuously re-verifies the
       stalest evidence (~full catalog re-check every 4-5 rounds).

    Only oracle-bearing queries are exposed: the driver has NO rows-only
    mode — a ``queries()`` entry without a matching ``oracle_sql()`` entry
    is recorded as ``err: "no_oracle"`` (observed in CORRECTNESS_r03), so a
    ``sql=None`` catalog entry would burn a verification slot and produce a
    red row every round.  Those operators (``text_compression_ratio``,
    ``stats_hll_rollup``) keep their local evidence in
    tests/test_functions.py + tests/test_oracle_parity.py instead.
    """
    from indicators_spark.queries import QUERIES

    if green is None:
        green = _evidenced()
    idx = {n: i for i, n in enumerate(QUERIES)}

    def tier(n: str) -> tuple:
        last = green.get(n, 0)
        if last == 0:
            return (0, 0, idx[n])
        if _TOUCHED.get(n, 0) > last:
            return (1, 0, idx[n])
        return (2, last, idx[n])

    return sorted(
        (n for n in QUERIES if QUERIES[n].sql is not None), key=tier
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2,
    never-driver-verified queries first (see :func:`_evidenced`)."""
    from indicators_spark.queries import QUERIES

    return {name: QUERIES[name].spark for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL per query — exactly one entry per
    :func:`queries` key (sql=None operators are excluded from both)."""
    from indicators_spark.queries import QUERIES

    return {n: QUERIES[n].sql for n in _ordered_names()}
