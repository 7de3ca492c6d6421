"""Weighted exact selection (scale.kth_element_weighted /
weighted_median, r13-prep): brute-force parity over ties / zero weights
/ boundary wk, the all-ones reduction to kth_element, the integral- and
non-negative-weight guards, and a hypothesis sweep on real floats (the
r11 lesson: nice-double pools never land on inexact bucket edges)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from indicators_spark.scale import (
    kth_element,
    kth_element_weighted,
    weighted_median,
)

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _brute(pairs, wk):
    """Smallest v with cumulative weight over values <= v reaching wk."""
    cum = 0
    for v in sorted({v for v, _ in pairs}):
        cum += sum(w for x, w in pairs if x == v)
        if cum >= wk:
            return v
    raise AssertionError("wk above total weight")


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "x double, w long")


def test_weighted_matches_bruteforce_with_ties_and_zeros(spark, selection_paths):
    pairs = [
        (1.5, 3), (1.5, 0), (2.0, 1), (2.5, 0), (3.0, 4), (3.0, 2),
        (7.25, 1), (7.25, 5), (10.0, 0), (11.5, 2),
    ]
    df = _df(spark, pairs)
    total = sum(w for _, w in pairs)
    for _path in selection_paths:
        for wk in (1, 2, 3, 4, 8, 9, 10, 15, 16, 17, total):
            got = kth_element_weighted(df, "x", "w", wk, buckets=4, final_rows=2)
            assert got == _brute(pairs, wk), (_path, wk)


def test_all_ones_weights_reduce_to_kth_element(spark):
    vals = [(float(v),) for v in (5, 1, 9, 3, 3, 7, 2, 8, 8, 8, 4)]
    df = spark.createDataFrame(vals, "x double").withColumn(
        "w", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(1)
    )
    for k in (1, 3, 6, 11):
        assert kth_element_weighted(
            df, "x", "w", k, buckets=4, final_rows=2
        ) == kth_element(df, "x", k, buckets=4, final_rows=2)


def test_weighted_median_and_guards(spark):
    pairs = [(10.0, 1), (20.0, 2), (30.0, 1)]  # W=4, wk=2 -> 20.0
    df = _df(spark, pairs)
    assert weighted_median(df, "x", "w") == 20.0
    with pytest.raises(ValueError, match="wk must be >= 1"):
        kth_element_weighted(df, "x", "w", 0)
    with pytest.raises(ValueError, match="outside"):
        kth_element_weighted(df, "x", "w", 5)
    with pytest.raises(ValueError, match="negative weight"):
        kth_element_weighted(_df(spark, [(1.0, -1), (2.0, 3)]), "x", "w", 1)
    # fractional float weights raise scan-side instead of truncating
    fdf = spark.createDataFrame([(1.0, 1.5), (2.0, 1.0)], "x double, w double")
    with pytest.raises(Exception, match="non-integral weight"):
        kth_element_weighted(fdf, "x", "w", 1)
    # integral float weights are accepted
    idf = spark.createDataFrame([(1.0, 2.0), (2.0, 1.0)], "x double, w double")
    assert kth_element_weighted(idf, "x", "w", 2) == 1.0


def test_decimal_weight_guard(spark):
    """decimal(p,s>0) weights — the native TPC-H quantity dtype — get
    the same non-integral raise as float/double (DuckDB ROUNDS on
    decimal→BIGINT while Spark truncates, so a silent cast would give a
    silently wrong weighted order statistic AND an oracle divergence);
    integral-valued decimals and scale-0 decimals pass through."""
    from decimal import Decimal

    # fractional decimal value raises scan-side
    fdf = spark.createDataFrame(
        [(1.0, Decimal("1.50")), (2.0, Decimal("1.00"))],
        "x double, w decimal(12,2)",
    )
    with pytest.raises(Exception, match="non-integral weight"):
        kth_element_weighted(fdf, "x", "w", 1)
    # integral-valued decimal(12,2) is accepted
    idf = spark.createDataFrame(
        [(1.0, Decimal("2.00")), (2.0, Decimal("1.00"))],
        "x double, w decimal(12,2)",
    )
    assert kth_element_weighted(idf, "x", "w", 2) == 1.0
    # scale-0 decimal is integral by construction — no guard in the plan
    zdf = spark.createDataFrame(
        [(1.0, Decimal("2")), (2.0, Decimal("1"))], "x double, w decimal(12,0)"
    )
    assert kth_element_weighted(zdf, "x", "w", 3) == 2.0
    # grouped engine shares the guard
    from indicators_spark.scale import kth_element_by_group_weighted

    gdf = spark.createDataFrame(
        [("a", 1.0, Decimal("0.25"))], "g string, x double, w decimal(12,2)"
    )
    with pytest.raises(Exception, match="non-integral weight"):
        kth_element_by_group_weighted(gdf, "x", "w", "g", frac=0.5)


@given(
    data=st.lists(
        st.tuples(
            st.floats(
                min_value=-1e9,
                max_value=1e9,
                allow_nan=False,
                allow_infinity=False,
            ),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=40,
    ),
    frac=st.floats(min_value=0.01, max_value=1.0),
)
@_settings
def test_weighted_selection_hypothesis(spark, data, frac):
    total = sum(w for _, w in data)
    if total == 0:
        return
    wk = max(1, min(total, math.ceil(frac * total)))
    df = _df(spark, [(float(v), int(w)) for v, w in data])
    got = kth_element_weighted(df, "x", "w", wk, buckets=8, final_rows=3)
    assert got == _brute(data, wk)


def test_grouped_weighted_matches_bruteforce(spark, selection_paths):
    from indicators_spark.scale import kth_element_by_group_weighted

    pairs = [
        ("a", 1.5, 3), ("a", 1.5, 0), ("a", 2.0, 1), ("a", 3.0, 4),
        ("b", 7.25, 1), ("b", 7.25, 5), ("b", 10.0, 0), ("b", 11.5, 2),
        ("c", 4.0, 2),
    ]
    df = spark.createDataFrame(pairs, "g string, x double, w long")
    for _path in selection_paths:
        out = kth_element_by_group_weighted(
            df, "x", "w", "g", frac=0.5, buckets=4, final_rows=2
        )
        got = {
            r["g"]: (r["total_w"], r["wk"], r["value"]) for r in out.collect()
        }
        for g in ("a", "b", "c"):
            gp = [(v, w) for gg, v, w in pairs if gg == g]
            W = sum(w for _, w in gp)
            wk = (W + 1) // 2
            assert got[g] == (W, wk, _brute(gp, wk)), (_path, g)
        # explicit wks dict, including a boundary rank
        out2 = kth_element_by_group_weighted(
            df, "x", "w", "g", wks={"a": 8, "b": 1}, buckets=4, final_rows=2
        )
        got2 = {r["g"]: r["value"] for r in out2.collect()}
        assert got2 == {
            "a": _brute([(v, w) for gg, v, w in pairs if gg == "a"], 8),
            "b": _brute([(v, w) for gg, v, w in pairs if gg == "b"], 1),
        }, _path


def test_grouped_weighted_all_ones_reduces_to_unweighted(spark):
    from pyspark.sql import functions as F

    from indicators_spark.scale import (
        kth_element_by_group,
        kth_element_by_group_weighted,
    )

    rows = [("p", float(v)) for v in (5, 1, 9, 3, 3, 7)] + [
        ("q", float(v)) for v in (2, 8, 8, 8, 4)
    ]
    df = spark.createDataFrame(rows, "g string, x double").withColumn(
        "w", F.lit(1)
    )
    uw = {
        r["g"]: (r["n"], r["k"], r["value"])
        for r in kth_element_by_group(
            df, "x", "g", frac=0.5, buckets=4, final_rows=2
        ).collect()
    }
    wt = {
        r["g"]: (r["total_w"], r["wk"], r["value"])
        for r in kth_element_by_group_weighted(
            df, "x", "w", "g", frac=0.5, buckets=4, final_rows=2
        ).collect()
    }
    assert uw == wt


def test_grouped_weighted_guards(spark):
    from indicators_spark.scale import kth_element_by_group_weighted

    df = spark.createDataFrame(
        [("a", 1.0, 2), ("a", 2.0, -1)], "g string, x double, w long"
    )
    with pytest.raises(ValueError, match="negative weight"):
        kth_element_by_group_weighted(df, "x", "w", "g", frac=0.5)
    ok = spark.createDataFrame(
        [("a", 1.0, 2), ("a", 2.0, 1)], "g string, x double, w long"
    )
    with pytest.raises(ValueError, match="exactly one"):
        kth_element_by_group_weighted(ok, "x", "w", "g")
    with pytest.raises(ValueError, match="outside"):
        kth_element_by_group_weighted(ok, "x", "w", "g", wks={"a": 4})
