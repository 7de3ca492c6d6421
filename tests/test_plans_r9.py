"""Plan checks for the round-9 registrations and the r10-prepared
queries: no cartesian products, text/payloads never cross an exchange,
and the hash-compared outputs are partitioning/AQE-invariant.

The r10 preps are included NOW (not at registration time) so their
plans are already pinned when the `_register` lines land — the same
one-round-early discipline their oracles get in
tests/test_oracle_parity_r9.py.
"""

from __future__ import annotations

import pytest

from indicators_spark.plans import plan_string
from indicators_spark.queries import QUERIES

from conftest import SF_SMOKE

#: similarity_kcenter_select is deliberately absent from the plan sweep:
#: its returned frame is a LocalTableScan over k driver rows (the greedy
#: runs in per-step collects whose plans are filter+project+agg on one
#: table — no join exists to go cartesian), so a plan pin here would be
#: vacuous; its behavior is bound by the oracle parity, brute-force, and
#: partitioning-invariance tests in tests/test_kcenter.py.
R9 = ("pack_token_stream_128",)
#: registered in r10 (VERDICT r9 #1) — the pins below predate the
#: `_register` lines by one round and keep running against the now-
#: registered callables
R10 = {
    "audit_compression_ratio": QUERIES["audit_compression_ratio"].spark,
    "stats_ks_drift": QUERIES["stats_ks_drift"].spark,
    "sample_match_distribution": QUERIES["sample_match_distribution"].spark,
}
R11_PREP = {
    "dedup_lines_within_doc": QUERIES["dedup_lines_within_doc"].spark,  # first in line for r11
}
PINNED = {**R10, **R11_PREP}


def _frame(spark, name):
    if name in PINNED:
        return PINNED[name](spark, SF_SMOKE)
    return QUERIES[name].spark(spark, SF_SMOKE)


def _exchange_children(plan: str) -> list[tuple[str, str]]:
    """(exchange line, its child operator line) pairs.  Spark prints an
    Exchange's input as the NEXT (one-deeper) line, and that child's
    bracketed output list is what actually crosses the shuffle — the
    Exchange line itself prints only partitioning keys, so asserting on
    it alone is vacuous (r9 review)."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "Exchange" in ln and i + 1 < len(lines):
            out.append((ln, lines[i + 1]))
    return out


@pytest.mark.parametrize("name", list(R9) + sorted(PINNED))
def test_r9_no_cartesian_product(spark, name):
    plan = plan_string(_frame(spark, name))
    assert "CartesianProduct" not in plan, (name, plan)


def test_pack_shuffles_are_skinny(spark):
    """pack_token_stream's data exchanges carry only the hash/bucket/
    count columns — document text reduces to a token count scan-side
    and never crosses a shuffle (the zero-UDF two-skinny-exchange
    claim).  Checked on each Exchange's CHILD operator line, whose
    output list is what actually ships."""
    plan = plan_string(_frame(spark, "pack_token_stream_128"))
    pairs = _exchange_children(plan)
    assert pairs, plan
    for ex, child in pairs:
        assert "text#" not in child, (ex, child)
    # the claim itself: exactly two data shuffles (bucket-hash for the
    # per-bucket window; the SinglePartition one is the ≤buckets-row
    # offset table, pinned bounded by its HashAggregate child)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    for ex, child in pairs:
        if "SinglePartition" in ex:
            assert "HashAggregate" in child, (ex, child)


def test_ks_drift_scans_only_needed_columns(spark):
    """The KS query reads (source, n_chars) — column pruning must keep
    text out of the scan entirely (at 100 TB text dominates the table's
    bytes; reading it for a drift statistic would be the bug)."""
    plan = plan_string(_frame(spark, "stats_ks_drift"))
    assert "text" not in plan, plan


def test_match_distribution_filter_side_never_shuffles(spark):
    """The matcher's corpus side is a scan + broadcast-joined hash
    filter: the rate/edge tables must reach it as broadcasts (a
    SortMergeJoin regression would shuffle every corpus row), no
    exchange child may carry text, and corpus rows cross no
    hash exchange except as the k-row bucket-count aggregate."""
    plan = plan_string(_frame(spark, "sample_match_distribution"))
    assert "text" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    for ex, child in _exchange_children(plan):
        if "hashpartitioning" in ex:
            # only the bucket-count aggregate may hash-shuffle, and its
            # child is the partial aggregate, never raw corpus rows
            assert "HashAggregate" in child, (ex, child)


def test_selfdedup_shuffles_are_skinny(spark):
    """line_dedup_within_doc's headline claim: full document text never
    crosses a shuffle — the window runs over the skinny (id, pos, hash)
    stream and the removed positions rejoin per-document.  Checked on
    each Exchange's child output; also pins that no corpus-wide
    lh-only-keyed exchange exists (the hot-empty-line-hash skew a
    hash-set semi-join would reintroduce, review r9)."""
    plan = plan_string(_frame(spark, "dedup_lines_within_doc"))
    pairs = _exchange_children(plan)
    assert pairs, plan
    for ex, child in pairs:
        # neither the lineified text nor its split array may ship
        assert "text#" not in child and "_ls#" not in child, (ex, child)
    for ex, _ in pairs:
        if "hashpartitioning" in ex:
            # every data shuffle is doc-keyed: _id/doc_id in the keys
            assert "_id#" in ex or "doc_id#" in ex, ex
    # the per-doc removed-positions table reaches the text side as a
    # broadcast — a sort-merge fallback would shuffle every document
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("name", sorted(PINNED))
def test_pinned_invariant_under_partitioning(spark, name):
    """The hash-compared outputs must not depend on partial-agg merge
    order or AQE (the r8 audit-invariance pattern)."""

    def snap():
        return sorted(tuple(r) for r in _frame(spark, name).collect())

    base = snap()
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        assert snap() == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
