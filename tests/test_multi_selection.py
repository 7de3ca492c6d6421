"""Multi-rank exact selection (`scale.kth_elements` /
`kth_elements_weighted`, VERDICT r12 #2): several order statistics of
one column refined in SHARED histogram passes.

Pins: (a) bit-equality with per-rank single-rank kernel runs (same snap
logic ⇒ same answers), (b) the frac→rank conversion is exact INTEGER
arithmetic (0.9·30 must hit rank 27, not float-ceil's 28), (c) the
shared form runs strictly fewer Spark jobs than the eager-count +
per-rank composition it replaces (the scan-count halving the round-13
re-point claims), (d) guards shared with the single-rank kernels."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from indicators_spark.scale import (
    kth_element,
    kth_element_weighted,
    kth_elements,
    kth_elements_weighted,
)


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "x double, w long")


_PAIRS = [
    (1.5, 3), (1.5, 0), (2.0, 1), (2.5, 0), (3.0, 4), (3.0, 2),
    (7.25, 1), (7.25, 5), (10.0, 0), (11.5, 2), (-4.0, 3), (0.0, 1),
]


def test_multi_equals_single_unweighted(spark, selection_paths):
    df = _pairs_df(spark, _PAIRS)
    n = len(_PAIRS)
    ks = [1, 3, n // 2, n - 1, n]
    for _path in selection_paths:
        total, res = kth_elements(df, "x", ks=ks, buckets=4, final_rows=2)
        assert total == n
        for k in ks:
            assert res[k] == kth_element(df, "x", k, buckets=4, final_rows=2)


def test_multi_equals_single_weighted(spark, selection_paths):
    df = _pairs_df(spark, _PAIRS)
    total_w = sum(w for _, w in _PAIRS)
    wks = [1, total_w // 3, (total_w + 1) // 2, total_w]
    for _path in selection_paths:
        total, res = kth_elements_weighted(
            df, "x", "w", wks=wks, buckets=4, final_rows=2
        )
        assert total == total_w
        for wk in wks:
            assert res[wk] == kth_element_weighted(
                df, "x", "w", wk, buckets=4, final_rows=2
            )


def test_frac_targets_are_exact_integer_ranks(spark):
    """0.9 over 30 rows must select rank (9·30+9)//10 = 27 — the
    DuckDB-oracle rank — not float-ceil's 28 (0.9·30 rounds UP to
    27.000000000000004 in IEEE)."""
    rows = [(float(i),) for i in range(1, 31)]
    df = spark.createDataFrame(rows, "x double")
    _, res = kth_elements(df, "x", fracs=[0.5, 0.9], buckets=4, final_rows=2)
    assert res[0.5] == 15.0  # (30+1)//2 = 15
    assert res[0.9] == 27.0  # NOT 28


def test_shared_passes_run_fewer_jobs(spark):
    """The multi-rank form must beat the composition it replaced —
    eager total-weight agg + two independent single-rank runs — on
    Spark job count over the same data and kernel parameters."""
    pairs = [(float((i * 37) % 101), (i * 13) % 7) for i in range(2000)]
    df = _pairs_df(spark, pairs).cache()
    total_w = sum(w for _, w in pairs)
    tracker = spark.sparkContext.statusTracker()

    def _jobs():
        # Job IDs are globally sequential, so the max ID is a monotone
        # job counter.  len() of the ID list is NOT: the status store
        # evicts old entries past spark.ui.retainedJobs, so once the
        # session-scoped fixture has run enough prior tests the list
        # saturates (and can even shrink), sending the delta negative.
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    df.count()  # materialize the cache outside both measured windows
    before = _jobs()
    eager = int(df.agg(F.sum("w")).first()[0])
    kth_element_weighted(
        df, "x", "w", (eager + 1) // 2, buckets=8, final_rows=50
    )
    kth_element_weighted(
        df, "x", "w", (9 * eager + 9) // 10, buckets=8, final_rows=50
    )
    old_jobs = _jobs() - before
    before = _jobs()
    total, res = kth_elements_weighted(
        df, "x", "w", fracs=[0.5, 0.9], buckets=8, final_rows=50
    )
    new_jobs = _jobs() - before
    df.unpersist()
    assert total == total_w == eager
    assert res[0.5] == _brute(pairs, (total_w + 1) // 2)
    assert res[0.9] == _brute(pairs, (9 * total_w + 9) // 10)
    assert new_jobs < old_jobs, (new_jobs, old_jobs)


def _brute(pairs, wk):
    cum = 0
    for v in sorted({v for v, _ in pairs}):
        cum += sum(w for x, w in pairs if x == v)
        if cum >= wk:
            return v
    raise AssertionError


def test_close_ranks_share_one_segment(spark, selection_paths):
    """Adjacent fracs landing in the same bucket must still both
    resolve (one shared segment, one residue job answers both)."""
    rows = [(float(i),) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "x double")
    for _path in selection_paths:
        _, res = kth_elements(
            df, "x", fracs=[0.501, 0.502, 0.9], buckets=4, final_rows=10
        )
        assert res[0.501] == 501.0 and res[0.502] == 502.0, _path
        assert res[0.9] == 900.0, _path


def test_multi_guards(spark):
    df = _pairs_df(spark, _PAIRS)
    with pytest.raises(ValueError, match="exactly one of"):
        kth_elements(df, "x")
    with pytest.raises(ValueError, match="exactly one of"):
        kth_elements(df, "x", ks=[1], fracs=[0.5])
    with pytest.raises(ValueError, match="outside"):
        kth_elements(df, "x", ks=[0])
    with pytest.raises(ValueError, match="outside"):
        kth_elements(df, "x", fracs=[1.5])
    with pytest.raises(ValueError, match="negative weight"):
        kth_elements_weighted(
            _pairs_df(spark, [(1.0, -1), (2.0, 3)]), "x", "w", wks=[1]
        )
    with pytest.raises(Exception, match="non-integral weight"):
        kth_elements_weighted(
            spark.createDataFrame([(1.0, 1.5)], "x double, w double"),
            "x", "w", wks=[1],
        )


def test_value_table_fast_path_equals_classic_refinement(spark, monkeypatch):
    """The complete-value-table paths (speculative one-job collect, and
    the post-stats collect, + driver walk) must be bit-identical to the
    classic stats→histogram→residue flow on every kernel, across ties,
    zero weights, negatives, and multiple groups — a NaN group key
    included, which every path keeps as one group (Spark groupBy
    semantics)."""
    import indicators_spark.scale as scale

    nan = float("nan")
    nan_rows = [(float(i % 7) - 2.5, i % 4) for i in range(30)]
    df = _pairs_df(spark, _PAIRS)
    gdf = spark.createDataFrame(
        [(1.0, x, w) for x, w in _PAIRS]
        + [(2.0, float(i % 5), (i % 3) + 1) for i in range(40)]
        + [(nan, x, w) for x, w in nan_rows],
        "g double, x double, w long",
    )

    def run_all():
        out = {}
        out["k"] = scale.kth_element(df, "x", 5, buckets=8, final_rows=4)
        out["kw"] = scale.kth_element_weighted(
            df, "x", "w", 11, buckets=8, final_rows=4
        )
        out["multi"] = scale.kth_elements(
            df, "x", fracs=[0.25, 0.5, 0.9], buckets=8, final_rows=4
        )
        out["multi_w"] = scale.kth_elements_weighted(
            df, "x", "w", wks=[3, 11, 20], buckets=8, final_rows=4
        )
        # repr: two NaN keys never compare equal
        out["grp"] = sorted(
            (repr(r["g"]), r["n"], r["k"], r["value"])
            for r in scale.kth_element_by_group(
                gdf, "x", "g", frac=0.5, buckets=8, final_rows=4
            ).collect()
        )
        out["grp_w"] = sorted(
            (repr(r["g"]), r["total_w"], r["wk"], r["value"])
            for r in scale.kth_element_by_group_weighted(
                gdf, "x", "w", "g", frac=0.5, buckets=8, final_rows=4
            ).collect()
        )
        return out

    fast = run_all()
    # force the speculative collect (local relations report an unknown
    # size, so the default gate sends them to the post-stats table)
    monkeypatch.setattr(scale, "SPECULATIVE_TABLE_MAX_BYTES", 1 << 63)
    speculative = run_all()
    # force the classic path: no speculation, no post-stats table
    monkeypatch.setattr(scale, "SPECULATIVE_TABLE_MAX_BYTES", -1)
    monkeypatch.setattr(scale, "DRIVER_TABLE_MAX_ROWS", 0)
    classic = run_all()
    assert fast == speculative == classic
    xs = sorted(x for x, _ in nan_rows)
    assert ("nan", 30, 15, xs[14]) in fast["grp"]
    W = sum(w for _, w in nan_rows)
    assert ("nan", W, (W + 1) // 2, _brute(nan_rows, (W + 1) // 2)) in fast["grp_w"]
    # sanity: the speculative gate opens for parquet-backed frames this
    # size (local relations report unknown size and skip speculation —
    # they still take the post-stats table path via the row bound)
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert scale._plan_size_bytes(docs) <= (64 << 20)  # the default gate
