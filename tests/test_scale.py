"""Scale-path equivalence: the distributed forms (halo rolling windows,
chunk-scan EWM) must match the single-window/sequential forms."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from indicators_spark import kernels as K
from indicators_spark.scale import ewm_chunked, halo_rolling_multi
from indicators_spark.sources.prices import prices_from_events

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def prices(spark):
    # unpersist on module teardown: Spark's cache manager substitutes a
    # cached relation into ANY later plan with a matching fragment, so a
    # leaked cache changes exchange counts in other files' plan tests
    df = prices_from_events(spark, SF_SMOKE).cache()
    yield df
    df.unpersist()


@pytest.mark.parametrize("agg", ["mean", "sum", "min", "max", "std"])
def test_halo_rolling_matches_global_window(spark, prices, agg):
    n = 14
    scaled = halo_rolling_multi(
        prices, [(agg, "close", "v")], n, ("timestamp", "seq"), buckets=7
    )
    w = K.w_rows(n, (), ("timestamp", "seq"))
    agg_fn = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
              "std": F.stddev_samp}[agg]
    ref = prices.withColumn("v", K.gated(agg_fn(F.col("close")), "close", n, w))
    a = scaled.select("seq", "v").orderBy("seq").toPandas()
    b = ref.select("seq", "v").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a, b, rtol=1e-12, atol=1e-12)


def test_ewm_chunked_matches_sequential(spark, prices):
    alpha = 2 / 21
    scaled = ewm_chunked(
        prices, "close", alpha, ("timestamp", "seq"), buckets=6, out="e"
    )
    a = scaled.select("seq", "e").orderBy("seq").toPandas()
    ref = (
        prices.orderBy("timestamp", "seq")
        .select("seq", "close")
        .toPandas()
    )
    ref["e"] = ref["close"].ewm(alpha=alpha, adjust=False).mean()
    pd.testing.assert_series_equal(
        a["e"], ref["e"], rtol=1e-10, atol=1e-12, check_names=False
    )


def test_halo_rolling_gate_warmup(spark, prices):
    out = halo_rolling_multi(
        prices, [("mean", "close", "v")], 20, ("timestamp", "seq"), buckets=5
    )
    head = out.orderBy("timestamp", "seq").select("v").limit(19).collect()
    assert all(r["v"] is None for r in head)


def test_halo_rolling_bucket_by_matches(spark, prices):
    """Arithmetic (sort-free) bucketing must equal the ntile path."""
    n = 14
    a = (
        halo_rolling_multi(prices, [("mean", "close", "v")], n,
                           ("timestamp", "seq"), buckets=7, bucket_by="seq")
        .select("seq", "v").orderBy("seq").toPandas()
    )
    b = (
        halo_rolling_multi(prices, [("mean", "close", "v")], n,
                           ("timestamp", "seq"), buckets=7)
        .select("seq", "v").orderBy("seq").toPandas()
    )
    pd.testing.assert_frame_equal(a, b, rtol=1e-12, atol=1e-12)


def test_ewm_chunked_bucket_by_matches_sequential(spark, prices):
    alpha = 2 / 21
    scaled = ewm_chunked(prices, "close", alpha, ("timestamp", "seq"),
                         buckets=6, out="e", bucket_by="seq")
    a = scaled.select("seq", "e").orderBy("seq").toPandas()
    ref = prices.orderBy("timestamp", "seq").select("seq", "close").toPandas()
    ref["e"] = ref["close"].ewm(alpha=alpha, adjust=False).mean()
    pd.testing.assert_series_equal(a["e"], ref["e"], rtol=1e-10, atol=1e-12,
                                   check_names=False)


def test_halo_lag_matches_global_window(spark, prices):
    from indicators_spark.scale import halo_lag

    scaled = halo_lag(prices, "close", 1, ("timestamp", "seq"), buckets=7, out="v")
    w = Window.orderBy("timestamp", "seq")
    ref = prices.withColumn("v", F.lag("close", 1).over(w))
    a = scaled.select("seq", "v").orderBy("seq").toPandas()
    b = ref.select("seq", "v").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a, b, rtol=1e-12, atol=1e-12)


def test_partitioned_halo_rolling_matches_per_symbol_window(spark, prices):
    from indicators_spark.scale import halo_rolling_multi

    n = 9
    scaled = halo_rolling_multi(
        prices,
        [("mean", "close", "m"), ("max", "high", "x")],
        n,
        ("timestamp", "seq"),
        buckets=5,
        partition_cols=("symbol",),
    )
    w = K.w_rows(n, ("symbol",), ("timestamp", "seq"))
    ref = prices.withColumns(
        {
            "m": K.gated(F.avg(F.col("close")), "close", n, w),
            "x": K.gated(F.max(F.col("high")), "high", n, w),
        }
    )
    a = scaled.select("symbol", "seq", "m", "x").orderBy("symbol", "seq").toPandas()
    b = ref.select("symbol", "seq", "m", "x").orderBy("symbol", "seq").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True), rtol=1e-12, atol=1e-12
    )


def test_halo_lag_partitioned_with_bounds(spark, prices):
    from indicators_spark.scale import halo_lag

    p = prices.withColumn("_bkey", F.col("seq"))
    lo, hi = p.agg(F.min("seq").cast("double"), F.max("seq").cast("double")).first()
    scaled = halo_lag(
        p,
        "close",
        2,
        ("timestamp", "seq"),
        buckets=4,
        out="v",
        bucket_by="_bkey",
        partition_cols=("symbol",),
        bounds=(lo, hi),
    )
    w = Window.partitionBy("symbol").orderBy("timestamp", "seq")
    ref = p.withColumn("v", F.lag("close", 2).over(w))
    a = scaled.select("symbol", "seq", "v").orderBy("symbol", "seq").toPandas()
    b = ref.select("symbol", "seq", "v").orderBy("symbol", "seq").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True), rtol=1e-12, atol=1e-12
    )


def test_global_row_number_matches_window(spark, prices):
    """Bucketed enumeration must equal the single-task row_number window,
    and its plan must contain no SinglePartition exchange over the data
    (only the ≤buckets-row offset prefix-sum)."""
    from indicators_spark.scale import grouped_row_number

    p = prices.withColumn("_bkey", F.col("seq"))
    out = grouped_row_number(
        p, (), order_cols=("timestamp", "seq"), buckets=4, bucket_by="_bkey",
        out="rn",
    )
    ref = prices.withColumn(
        "rn", F.row_number().over(Window.orderBy("timestamp", "seq")).cast("long")
    )
    a = out.select("seq", "rn").orderBy("seq").toPandas()
    b = ref.select("seq", "rn").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_duplicate_passage_fraction(spark):
    """Two docs sharing a 3-gram window get it counted as duplicated;
    unique passages don't; short docs are dropped."""
    from indicators_spark.functions.text import duplicate_passage_fraction

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),   # 3-grams: abc bcd cde
            (1, "x a b c y"),   # 3-grams: xab abc bcy -> shares abc
            (2, "p q"),         # too short
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in duplicate_passage_fraction(docs, n=3).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n_grams"] == 3 and rows[0]["dup_grams"] == 1
    assert rows[1]["n_grams"] == 3 and rows[1]["dup_grams"] == 1
    assert abs(rows[0]["dup_frac"] - 1 / 3) < 1e-12


def test_global_cum_sum_matches_window(spark, prices):
    """Bucketed global running sums must match the single-task unbounded
    window to reassociation tolerance, including NULL-frame semantics."""
    from indicators_spark.scale import global_cum_sum

    p = prices.withColumn("_bkey", F.col("seq")).withColumn(
        "gappy", F.when(F.col("seq") % 3 != 0, F.col("close"))
    )
    out = global_cum_sum(
        p, ["close", "gappy"], ("timestamp", "seq"), buckets=4, bucket_by="_bkey"
    )
    w = (
        Window.orderBy("timestamp", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = p.withColumns(
        {"_cum_close": F.sum("close").over(w), "_cum_gappy": F.sum("gappy").over(w)}
    )
    a = out.select("seq", "_cum_close", "_cum_gappy").orderBy("seq").toPandas()
    b = ref.select("seq", "_cum_close", "_cum_gappy").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True), rtol=1e-12, atol=1e-9
    )


def test_rolling_multi_auto_dispatch(spark, prices):
    """Size dispatch: below HALO_MIN_ROWS the auto kernel plans the plain
    window form (no halo machinery); at/above it, the halo plan with NO
    SinglePartition stage.  Values identical either way."""
    from indicators_spark.plans import plan_string
    from indicators_spark.scale import rolling_multi_auto

    p = prices.withColumn("_bkey", F.col("seq"))
    kw = dict(order_cols=("timestamp", "seq"), buckets=7, bucket_by="_bkey")
    small = rolling_multi_auto(p, [("mean", "close", "v")], 14, n_rows=10_000, **kw)
    big = rolling_multi_auto(p, [("mean", "close", "v")], 14, n_rows=10**9, **kw)
    assert "_halo" not in plan_string(small)
    big_plan = plan_string(big)
    assert "_halo" in big_plan
    assert "SinglePartition" not in big_plan, big_plan
    a = small.select("seq", "v").orderBy("seq").toPandas()
    b = big.select("seq", "v").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a, b, rtol=1e-12, atol=1e-12)


def test_lag_auto_dispatch(spark, prices):
    from indicators_spark.plans import plan_string
    from indicators_spark.scale import lag_auto

    p = prices.withColumn("_bkey", F.col("seq"))
    kw = dict(order_cols=("timestamp", "seq"), buckets=7, out="v", bucket_by="_bkey")
    small = lag_auto(p, "close", 1, n_rows=10_000, **kw)
    big = lag_auto(p, "close", 1, n_rows=10**9, **kw)
    assert "_halo" not in plan_string(small)
    big_plan = plan_string(big)
    assert "SinglePartition" not in big_plan, big_plan
    a = small.select("seq", "v").orderBy("seq").toPandas()
    b = big.select("seq", "v").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a, b, rtol=1e-12, atol=1e-12)


def test_global_cum_sum_integer_dtype(spark, prices):
    """Integer inputs keep the long sum dtype (no silent double widening)."""
    from indicators_spark.scale import global_cum_sum

    p = prices.withColumn("_bkey", F.col("seq")).withColumn(
        "iv", (F.col("seq") % 7).cast("long")
    )
    out = global_cum_sum(p, ["iv"], ("timestamp", "seq"), buckets=4, bucket_by="_bkey")
    assert dict(out.dtypes)["_cum_iv"] == "bigint"
    w = (
        Window.orderBy("timestamp", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = p.withColumn("_cum_iv", F.sum("iv").over(w))
    a = out.select("seq", "_cum_iv").orderBy("seq").toPandas()
    b = ref.select("seq", "_cum_iv").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_halo_rolling_exact_with_empty_buckets(spark):
    """Skewed keys that leave arithmetic buckets EMPTY must still produce
    the exact global-window result: halos route to the next POPULATED
    bucket, not blindly to bucket+1."""
    rows = [(i, float(i)) for i in list(range(40)) + list(range(90000, 90040))]
    df = (
        spark.createDataFrame(rows, "seq long, close double")
        .withColumn("timestamp", F.timestamp_seconds(F.col("seq")))
    )
    out = halo_rolling_multi(
        df, [("mean", "close", "v")], 5, ("timestamp", "seq"), buckets=8,
        bucket_by="seq",
    )
    ref = df.withColumn(
        "v",
        F.when(
            F.count("close").over(
                Window.orderBy("timestamp", "seq").rowsBetween(-4, 0)
            )
            >= 5,
            F.avg("close").over(
                Window.orderBy("timestamp", "seq").rowsBetween(-4, 0)
            ),
        ),
    )
    a = out.select("seq", "v").orderBy("seq").toPandas()
    b = ref.select("seq", "v").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True), rtol=1e-12
    )


def test_parquet_footer_stats_match_scan(spark):
    """Footer-derived (n_rows, lo, hi) must equal the full-scan
    agg(min, max, count) — the halo queries substitute one for the other,
    so any divergence silently mis-buckets rows."""
    from indicators_spark.scale import parquet_footer_stats
    from indicators_spark.sources.prices import load_table

    sf = "/root/testdata/sf0.001"
    n_rows, lo, hi = parquet_footer_stats(f"{sf}/lineitem.parquet", "l_shipdate")
    li = load_table(spark, sf, "lineitem")
    slo, shi, sn = li.agg(
        F.min(F.unix_timestamp("l_shipdate")).cast("double"),
        F.max(F.unix_timestamp("l_shipdate")).cast("double"),
        F.count(F.lit(1)),
    ).first()
    assert (n_rows, lo, hi) == (sn, slo, shi)
    # numeric column stats too (int64)
    n2, lo2, hi2 = parquet_footer_stats(f"{sf}/lineitem.parquet", "l_orderkey")
    s2 = li.agg(
        F.min("l_orderkey").cast("double"),
        F.max("l_orderkey").cast("double"),
    ).first()
    assert n2 == sn and (lo2, hi2) == tuple(s2)
    # unknown column → exact count, None bounds (caller falls back to scan)
    n3, lo3, hi3 = parquet_footer_stats(f"{sf}/lineitem.parquet", "nope")
    assert n3 == sn and lo3 is None and hi3 is None


def test_null_bucket_key_routes_first(spark):
    """A NULL bucket_by key must land in bucket 1 (the plain-window form
    sorts null order keys FIRST) — F.least alone would dump it in the LAST
    bucket and e.g. number it after every other row."""
    from indicators_spark.scale import grouped_row_number

    rows = [(None, None)] + [(i, float(i)) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "seq long, close double").withColumn(
        "timestamp", F.timestamp_seconds(F.col("seq"))
    )
    out = grouped_row_number(
        df, (), ("timestamp", "seq"), buckets=4, bucket_by="seq"
    )
    got = {r["seq"]: r["rn"] for r in out.collect()}
    assert got[None] == 1 and got[1] == 2 and got[39] == 40


def test_halo_precondition_violation_raises(spark):
    """An under-sized SENDING bucket (not the partition's first) must
    raise, not silently emit spurious warm-up NULLs: bucket 2 holds 2 rows
    < n-1 = 9 while bucket 3's rows need its history."""
    import pytest as _pytest

    rows = (
        [(i, float(i)) for i in range(30)]           # bucket 1 (dense)
        + [(40, 40.0), (41, 41.0)]                   # bucket 2: 2 rows
        + [(i, float(i)) for i in range(70, 100)]    # buckets 3+ (dense)
    )
    df = spark.createDataFrame(rows, "seq long, close double").withColumn(
        "timestamp", F.timestamp_seconds(F.col("seq"))
    )
    out = halo_rolling_multi(
        df, [("mean", "close", "v")], 10, ("timestamp", "seq"), buckets=3,
        bucket_by="seq",
    )
    with _pytest.raises(Exception, match="halo precondition"):
        out.collect()


def test_small_first_bucket_still_exact(spark):
    """A small FIRST populated bucket is exact (the receiver's warm-up is
    legitimately below the window size) — must NOT raise."""
    rows = [(0, 0.0), (1, 1.0)] + [(i, float(i)) for i in range(50, 80)]
    df = spark.createDataFrame(rows, "seq long, close double").withColumn(
        "timestamp", F.timestamp_seconds(F.col("seq"))
    )
    out = halo_rolling_multi(
        df, [("mean", "close", "v")], 5, ("timestamp", "seq"), buckets=3,
        bucket_by="seq",
    )
    ref = df.withColumn(
        "v",
        F.when(
            F.count("close").over(
                Window.orderBy("timestamp", "seq").rowsBetween(-4, 0)
            ) >= 5,
            F.avg("close").over(
                Window.orderBy("timestamp", "seq").rowsBetween(-4, 0)
            ),
        ),
    )
    a = out.select("seq", "v").orderBy("seq").toPandas()
    b = ref.select("seq", "v").orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True), rtol=1e-12
    )


def test_ewm_chunked_rejects_null_values(spark):
    """Null inputs break the chunk carry composition (pandas renormalizes
    EWM weights across NaN gaps) — the kernel must raise, not return
    bucket-boundary-dependent values."""
    import pytest as _pytest

    from indicators_spark.scale import ewm_chunked

    rows = [(i, float(i) if i != 7 else None) for i in range(40)]
    df = spark.createDataFrame(rows, "seq long, close double").withColumn(
        "timestamp", F.timestamp_seconds(F.col("seq"))
    )
    with _pytest.raises(ValueError, match="null value"):
        ewm_chunked(df, "close", 0.2, ("timestamp", "seq"), buckets=4,
                    bucket_by="seq", out="e")


def test_bounds_without_bucket_by_rejected(spark, prices):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bounds"):
        halo_rolling_multi(
            prices, [("mean", "close", "v")], 5, ("timestamp", "seq"),
            buckets=4, bounds=(0.0, 1.0),
        )


def test_grouped_row_number_matches_window(spark, prices):
    """Composite (group, range-bucket) enumeration equals the per-group
    row_number window, including with empty buckets for some groups."""
    from indicators_spark.scale import grouped_row_number

    out = grouped_row_number(
        prices,
        ["symbol"],
        ["close", "seq"],
        buckets=8,
        bucket_by="close",
        out="rn",
    )
    ref = prices.withColumn(
        "rn",
        F.row_number()
        .over(Window.partitionBy("symbol").orderBy("close", "seq"))
        .cast("long"),
    )
    a = out.select("symbol", "seq", "rn").orderBy("symbol", "seq").toPandas()
    b = ref.select("symbol", "seq", "rn").orderBy("symbol", "seq").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_grouped_row_number_partition_invariant(spark, prices):
    from indicators_spark.scale import grouped_row_number

    kw = dict(buckets=5, bucket_by="close", out="rn")
    a = sorted(
        (r["symbol"], r["seq"], r["rn"])
        for r in grouped_row_number(
            prices, ["symbol"], ["close", "seq"], **kw
        ).collect()
    )
    b = sorted(
        (r["symbol"], r["seq"], r["rn"])
        for r in grouped_row_number(
            prices.repartition(13), ["symbol"], ["close", "seq"], **kw
        ).collect()
    )
    assert a == b


def test_kth_element_matches_sorted_bruteforce(spark, selection_paths):
    """Exact selection across refinement passes: random data + heavy
    ties + extreme outliers, k at both ends and around the middle; a
    tiny final_rows forces real histogram recursion."""
    import random

    from indicators_spark.scale import kth_element

    random.seed(11)
    vals = (
        [random.gauss(100.0, 25.0) for _ in range(4000)]
        + [42.0] * 500
        + [1e9, -1e9]
    )
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    sv = sorted(vals)
    for _path in selection_paths:
        for k in (1, 2, len(vals) // 2, len(vals) - 1, len(vals)):
            got = kth_element(df, "x", k, buckets=16, final_rows=64)
            assert got == sv[k - 1], (_path, k)


def test_kth_element_edge_cases(spark):
    from indicators_spark.scale import kth_element

    # constant column: any k returns the constant
    dfc = spark.createDataFrame([(3.14,)] * 50, "x double")
    assert kth_element(dfc, "x", 25) == 3.14
    # nulls excluded; k out of range raises
    dfn = spark.createDataFrame([(1.0,), (None,), (2.0,)], "x double")
    assert kth_element(dfn, "x", 2) == 2.0
    with pytest.raises(ValueError):
        kth_element(dfn, "x", 3)
    with pytest.raises(ValueError):
        kth_element(dfn, "x", 0)


def test_kth_by_group_validation_and_dtypes(spark, selection_paths):
    from indicators_spark.scale import kth_element_by_group

    df = spark.createDataFrame(
        [(1, 5.0), (1, 6.0), (2, 1.0)], "lab int, x double"
    )
    out = kth_element_by_group(df, "x", "lab", ks={1: 2, 2: 1})
    assert dict(out.dtypes)["lab"] == "int"  # inherits the input dtype
    got = {r["lab"]: r["value"] for r in out.collect()}
    assert got == {1: 6.0, 2: 1.0}
    with pytest.raises(ValueError, match="no non-null"):
        kth_element_by_group(df, "x", "lab", ks={99: 1})
    with pytest.raises(ValueError, match="exactly one"):
        kth_element_by_group(df, "x", "lab")
    with pytest.raises(ValueError, match="outside"):
        kth_element_by_group(df, "x", "lab", ks={2: 5})
    # prior_stats naming a group without rows raises on every path
    prior = {1: (5.0, 6.0, 2, 2, 1), 99: (0.0, 1.0, 1, 1, 1)}
    for _path in selection_paths:
        with pytest.raises(RuntimeError, match="bookkeeping violated"):
            kth_element_by_group(
                df, "x", "lab", frac=0.5, prior_stats=prior, final_rows=0
            )


def test_grouped_row_number_null_group_rows_survive(spark):
    """NULL group keys must rank within their own (null) group — a plain
    equi-join on the offset table would silently drop them."""
    from indicators_spark.scale import grouped_row_number

    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 3.0), (None, 3, 9.0), (None, 4, 1.0)],
        "g string, k long, v double",
    )
    got = {
        r["k"]: r["rn"]
        for r in grouped_row_number(
            df, ["g"], ["v", "k"], buckets=2, bucket_by="v"
        ).collect()
    }
    assert got == {1: 2, 2: 1, 3: 2, 4: 1}


def test_halo_frame_combined_equals_composed(spark):
    """halo_frame emits exactly the row multiset of a pure-Python model —
    the last `back` rows of every (key, bucket) copied into the next
    POPULATED bucket of the key, the first `fwd` rows into the previous
    one — for tail+head, tail alone and head alone, global and per key.
    Arithmetic bucket 3 of 4 is empty, so routing by presence (not
    bucket±1) is exercised."""
    from functools import reduce

    from pyspark.sql import functions as F

    from indicators_spark.scale import _with_bucket, halo_frame

    rows = [
        ("a" if i % 3 else "b", i, float(i * 7 % 23))
        for i in [*range(120), *range(180, 240)]
    ]
    df = spark.createDataFrame(rows, "sym string, seq long, v double")
    bucketed = _with_bucket(df, ("seq",), 4, bucket_by="seq")
    cases = [
        (parts, back, fwd)
        for parts in ((), ("sym",))
        for back, fwd in ((9, 5), (9, 0), (0, 5))
    ]
    got = reduce(
        lambda x, y: x.unionByName(y),
        [
            halo_frame(bucketed, ("seq",), parts, back=back, fwd=fwd)
            .select("sym", "seq", "v", "_bucket", "_halo")
            .withColumn("_case", F.lit(i))
            for i, (parts, back, fwd) in enumerate(cases)
        ],
    ).collect()

    def model(parts, back, fwd):
        # seq spans [0, 239]: bucket width 60, arithmetic bucket 3 empty
        out = [(*r, r[1] // 60 + 1, False) for r in rows]
        cells = {}
        for r in sorted(out, key=lambda r: r[1]):
            key = r[0] if parts else None
            cells.setdefault(key, {}).setdefault(r[3], []).append(r)
        for by_bucket in cells.values():
            order = sorted(by_bucket)
            for j, b in enumerate(order):
                cell = by_bucket[b]
                if back and j + 1 < len(order):
                    out += [(*r[:3], order[j + 1], True) for r in cell[-back:]]
                if fwd and j > 0:
                    out += [(*r[:3], order[j - 1], True) for r in cell[:fwd]]
        return sorted(out)

    for i, case in enumerate(cases):
        mine = sorted(tuple(r)[:5] for r in got if r["_case"] == i)
        assert mine == model(*case), case


def test_halo_frame_combined_single_rank_pass(spark):
    """The combined path plans exactly ONE full-data row_number window
    (the tail/head compose pays two)."""
    from indicators_spark.plans import plan_string
    from indicators_spark.scale import _with_bucket, halo_frame

    df = spark.range(200).selectExpr("id as seq", "id * 1.5 as v")
    bucketed = _with_bucket(df, ("seq",), 4, bucket_by="seq")
    plan = plan_string(halo_frame(bucketed, ("seq",), (), back=9, fwd=5))
    assert plan.count("row_number") <= 2, plan  # one spec, ≤2 plan mentions
