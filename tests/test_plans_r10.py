"""Plan checks for the r11/r12-prepared queries (queries package),
pinned one-round-early like their oracles (tests/test_oracle_parity_r10).

similarity_kcenter_carry is deliberately absent: like the registered
k=6 form, its returned frame is a LocalTableScan over k driver rows
(the greedy's per-superstep plans are filter+project+agg on one table —
no join exists to go cartesian); its behavior is bound by the oracle
parity and the bit-identity pins in tests/test_kcenter.py.
"""

from __future__ import annotations

import pytest

from indicators_spark.plans import plan_string
from indicators_spark.queries import QUERIES

from conftest import SF_SMOKE

PREPPED = {
    "stats_psi_drift": QUERIES["stats_psi_drift"].spark,
    "text_bpe_encode": QUERIES["text_bpe_encode"].spark,
}


def _exchange_children(plan: str) -> list[tuple[str, str]]:
    lines = plan.splitlines()
    return [
        (ln, lines[i + 1])
        for i, ln in enumerate(lines)
        if "Exchange" in ln and i + 1 < len(lines)
    ]


@pytest.mark.parametrize("name", sorted(PREPPED))
def test_no_cartesian_product(spark, name):
    plan = plan_string(PREPPED[name](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, (name, plan)


def test_psi_scans_only_needed_columns_and_shuffles_cells(spark):
    """PSI reads (source, n_chars) — text must be pruned from the scan —
    and the only wide-data hash exchange is the (group, bin) cell
    aggregate (its child is the partial HashAggregate, never raw rows);
    the edge/pool/scalar tables reach the data side as broadcasts."""
    plan = plan_string(QUERIES["stats_psi_drift"].spark(spark, SF_SMOKE))
    assert "text" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for ex, child in _exchange_children(plan):
        if "hashpartitioning" in ex:
            assert "HashAggregate" in child, (ex, child)


def test_bpe_encode_output_plan_is_map_only(spark):
    """The encoder's returned frame is a pure map stage: ZERO exchanges
    however large the corpus.  The Arrow rank-dict UDF shows exactly
    one Arrow-batched python eval; the row-at-a-time BatchEvalPython must never appear.  (The trainer's
    per-merge scans run eagerly at build time, driver-looped like
    kcenter/kmeans; this pins the plan every downstream consumer
    actually pays for per row.)"""
    plan = plan_string(QUERIES["text_bpe_encode"].spark(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_jaccard_prefix_plan_no_cartesian_no_text_shuffle(spark):
    """Candidate generation and verification are equi-joins on token /
    id keys — no CartesianProduct anywhere, and the ubiquitous-token +
    prefix tables reach the big side as broadcasts or hash joins, never
    a nested loop over data."""

    plan = plan_string(QUERIES["dedup_jaccard_prefix"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan


def test_qnorm_plan_shape(spark):
    """quality_quantile_normalize: the scan must prune `text` (the op
    reads only doc_id/source/n_chars), no CartesianProduct, and every
    SinglePartition exchange feeds a bounded table (the ≤groups·buckets
    offset prefix-sums), never the document rows — the rank kernels'
    contract."""

    plan = plan_string(QUERIES["quality_quantile_normalize"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "text" not in plan, plan
    # bounded-table SinglePartition windows only: their input subtree
    # must contain an aggregate (the counts tables), not a raw scan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            tail = "\n".join(lines[i : i + 4])
            assert "HashAggregate" in tail or "Window" in tail, (ln, tail)


def test_decon_neardup_plan_no_cartesian(spark):
    plan = plan_string(QUERIES["decontaminate_neardup"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan


def test_robust_scale_and_selection_preps_no_cartesian(spark):
    """The two selection-built preps return broadcast-joined row-level
    plans (robust scale) or driver-literal tables (group median); no
    CartesianProduct, and robust scale's scan must prune `text`."""

    plan = plan_string(QUERIES["analytic_robust_scale"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "text" not in plan, plan
    plan2 = plan_string(QUERIES["analytic_group_median_selection"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan2, plan2
