"""Fluent-API halo-window size dispatch (core.py, VERDICT r10 #4).

`Indicators(df).rsi(...)` on a symbol-less frame at or above
``scale.HALO_MIN_ROWS`` must plan no SinglePartition window — and the
dispatch must be invisible: identical values to the plain form, plain
form untouched below the threshold.  Exactness is pinned by running the
session FORCED (``halo=True``) on small data against the plain form
(``halo=False``), across rolling / lag / lead / row_number / EWM /
cumulative compositions, including the re-halo path (a halo budget small
enough that the chain overflows it mid-stream)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from indicators_spark import Indicators
from indicators_spark.plans import exchange_count, plan_string


def _prices(spark, n=800, symbol=False):
    """Deterministic single-instrument OHLCV frame (no symbol column
    unless asked): uniform timestamps so the range buckets are even."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        c = 100.0 + 10.0 * ((i * 37) % 101) / 101 - 5.0 * ((i * 17) % 53) / 53
        h = c + 1.0 + ((i * 7) % 13) / 13
        lo = c - 1.0 - ((i * 11) % 17) / 17
        o = (h + lo) / 2
        v = 1000.0 + (i * 97) % 503
        rows.append((base + datetime.timedelta(minutes=i), float(o), float(h), float(lo), float(c), float(v)))
    df = spark.createDataFrame(
        rows, "timestamp timestamp, open double, high double, low double, close double, volume double"
    )
    if symbol:
        df = df.withColumn("symbol", F.lit("A"))
    return df


def _chain(ind: Indicators) -> Indicators:
    """A broad §2a composition: rolling aggs, lag-1 diffs, deep shifts
    (roc/dpo/wma/kst), row_number (aroon), lead (ichimoku), plus windows
    chained over window outputs (rsi, dpo)."""
    return (
        ind.sma(["close"], 5)
        .rsi(["close"], 7)
        .roc(["close"], 9)
        .dpo(["close"], 8)
        .wma(["close"], 4)
        .stochastic_oscillator(7)
        .williams_ri(7)
        .aroon(6)
        .ichimoku(5, 6, 8)
        .daily_return(["close"])
        .atr(5)
    )


def _rows(df):
    cols = sorted(df.columns)
    out = []
    for r in df.select(*cols).orderBy("timestamp").collect():
        out.append(tuple(
            round(v, 9) if isinstance(v, float) else v for v in r
        ))
    return cols, out


@pytest.mark.parametrize("depth", [128, 32])
def test_halo_chain_equals_plain(spark, depth):
    """Forced halo session == plain windows, bit-for-bit (rounded to 1e-9
    for float reassociation — none expected: same expressions, same frame
    contents).  depth=128 runs the whole chain in one session; depth=32
    overflows mid-chain and exercises the re-halo path."""
    src = _prices(spark)
    plain = _chain(Indicators(src, halo=False)).collect()
    halo = _chain(
        Indicators(src, halo=True, halo_buckets=4, halo_depth=depth)
    ).collect()
    pc, pr = _rows(plain)
    hc, hr = _rows(halo)
    assert pc == hc
    assert pr == hr


def test_halo_with_ewm_and_cumulative(spark):
    """EWM operators flush through the session (collapse → applyInPandas →
    re-halo) and cumulative frames collapse it — values unchanged."""
    src = _prices(spark, n=600)

    def build(ind):
        return (
            ind.sma(["close"], 5)
            .ema(["close"], 10)
            .macd(["close"])
            .rsi(["close"], 7)
            .obv()
            .sma(["close"], 9, _suffix="x_")
            .cumulative_returns(["close"])
        )

    plain = build(Indicators(src, halo=False)).collect()
    halo = build(
        Indicators(src, halo=True, halo_buckets=3, halo_depth=64)
    ).collect()
    pc, pr = _rows(plain)
    hc, hr = _rows(halo)
    assert pc == hc
    assert pr == hr


def test_halo_with_fill_null(spark):
    """fill_null's unbounded frames collapse the session (duplicated halo
    rows would bias mean/median fills)."""
    src = _prices(spark, n=400).withColumn(
        "close",
        F.when(F.pmod(F.hash("timestamp"), F.lit(7)) == 0, F.lit(None)).otherwise(
            F.col("close")
        ),
    )

    def build(ind):
        return (
            ind.sma(["close"], 5)
            .fill_null(["close"], method="mean")
            .rsi(["close"], 6)
        )

    plain = build(Indicators(src, halo=False)).collect()
    halo = build(
        Indicators(src, halo=True, halo_buckets=3, halo_depth=64)
    ).collect()
    pc, pr = _rows(plain)
    hc, hr = _rows(halo)
    assert pc == hc
    assert pr == hr


def test_halo_plan_no_single_partition_window(spark):
    """THE VERDICT r10 #4 pin: the fluent rsi plan, with the halo session
    engaged, contains no SinglePartition exchange anywhere — per the
    lineitem_rsi_halo model — while the plain form (the negative control)
    plans exactly the single-task global window the dispatch removes."""
    src = _prices(spark, n=1200)
    halo_df = (
        Indicators(src, halo=True, halo_buckets=4, halo_depth=64)
        .rsi(["close"], 14)
        .sma(["close"], 20)
        .collect()
    )
    plan = plan_string(halo_df)
    assert "Exchange SinglePartition" not in plan, plan
    plain_df = Indicators(src, halo=False).rsi(["close"], 14).collect()
    assert "Exchange SinglePartition" in plan_string(plain_df)


def test_auto_dispatch_stays_plain_below_threshold(spark):
    """Auto mode on a small frame decides OFF after its size probe and
    builds the identical plain plan — existing §2a behavior unchanged."""
    src = _prices(spark, n=300)
    ind = Indicators(src)  # halo=None → auto
    out = ind.rsi(["close"], 14).collect()
    assert ind._halo_on is False
    want = Indicators(src, halo=False).rsi(["close"], 14).collect()

    def norm(df):  # expression / CSE ids differ run-to-run; shape must not
        import re

        s = re.sub(r"#\d+", "#", plan_string(df))
        s = re.sub(r"_common_expr_\d+", "_common_expr_", s)
        return re.sub(r"plan_id=\d+", "plan_id=", s)

    assert norm(out) == norm(want)


def test_auto_dispatch_hint_skips_the_probe(spark):
    """A caller-passed n_rows below the threshold must decide OFF without
    running any Spark job (the catalog-metadata contract)."""
    src = _prices(spark, n=100)
    ind = Indicators(src, n_rows=100)
    ind.sma(["close"], 5)
    assert ind._halo_on is False


def test_halo_deeper_than_budget_falls_back_plain(spark):
    """One window deeper than the whole session budget runs in the plain
    form (exactness over plan shape) instead of truncating."""
    src = _prices(spark, n=500)

    def build(ind):
        return ind.sma(["close"], 5).roc(["close"], 90).sma(
            ["close"], 7, _suffix="y_"
        )

    plain = build(Indicators(src, halo=False)).collect()
    halo = build(
        Indicators(src, halo=True, halo_buckets=3, halo_depth=48)
    ).collect()
    pc, pr = _rows(plain)
    hc, hr = _rows(halo)
    assert pc == hc
    assert pr == hr


def test_per_symbol_mode_halo_equals_plain(spark):
    """per_symbol mode with REAL symbols: one session with halos flowing
    within each symbol serves every window (they all partition by
    symbol) — values identical to the plain per-symbol form, across
    rolling / lag / lead / EWM / cumulative compositions."""
    import pyspark.sql.functions as SF

    src = _prices(spark, n=900).withColumn(
        "symbol",
        SF.concat(
            SF.lit("s"),
            SF.pmod(SF.minute("timestamp"), SF.lit(3)).cast("string"),
        ),
    )

    def build(ind):
        return (
            ind.sma(["close"], 5)
            .rsi(["close"], 7)
            .ichimoku(5, 6, 8)
            .ema(["close"], 10)
            .obv()
            .daily_return(["close"])
        )

    plain = build(
        Indicators(src, partition_mode="per_symbol", halo=False)
    ).collect()
    halo = build(
        Indicators(
            src,
            partition_mode="per_symbol",
            halo=True,
            halo_buckets=3,
            halo_depth=64,
        )
    ).collect()
    pc, pr = _rows_sym(plain)
    hc, hr = _rows_sym(halo)
    assert pc == hc
    assert pr == hr


def _rows_sym(df):
    cols = sorted(df.columns)
    out = []
    for r in df.select(*cols).orderBy("symbol", "timestamp").collect():
        out.append(tuple(
            round(v, 9) if isinstance(v, float) else v for v in r
        ))
    return cols, out


def test_per_symbol_halo_plan_partitions_by_symbol_and_bucket(spark):
    """The per_symbol halo plan hash-partitions on (symbol, _bucket) —
    #symbols × #buckets tasks instead of #symbols — and still has no
    SinglePartition exchange anywhere."""
    import pyspark.sql.functions as SF

    src = _prices(spark, n=900).withColumn(
        "symbol", SF.pmod(SF.hash("timestamp"), SF.lit(3)).cast("string")
    )
    ind = Indicators(
        src,
        partition_mode="per_symbol",
        halo=True,
        halo_buckets=3,
        halo_depth=32,
    )
    plan = plan_string(ind.rsi(["close"], 7).collect())
    assert "Exchange SinglePartition" not in plan, plan
    assert "_bucket" in plan and "symbol" in plan, plan


def test_faithful_mode_multi_symbol_stays_plain(spark):
    """Faithful mode on a real multi-symbol frame mixes global and
    per-symbol frames — one bucketed frame cannot serve both, so the
    auto dispatch must stay off regardless of size hints."""
    import pyspark.sql.functions as SF

    src = _prices(spark, n=300).withColumn("symbol", SF.lit("A"))
    ind = Indicators(src, n_rows=50_000_000)  # huge hint, but symbol present
    ind.sma(["close"], 5)
    assert ind._halo_on is False


def test_order_bounds_hint_engages_with_zero_jobs(spark):
    """n_rows + order_bounds (catalog metadata) let the session engage
    without ANY pre-job — the rolling_multi_auto bounds contract — and
    the values still match the plain form."""
    src = _prices(spark, n=400)
    lo = src.agg(F.min(F.col("timestamp").cast("double"))).first()[0]
    hi = src.agg(F.max(F.col("timestamp").cast("double"))).first()[0]
    tracker = spark.sparkContext.statusTracker()
    ind = Indicators(
        src,
        halo=True,
        halo_buckets=3,
        halo_depth=48,
        n_rows=400,
        order_bounds=(lo, hi),
    )
    before = len(tracker.getJobIdsForGroup(None) or [])
    ind.sma(["close"], 5)  # decides + charges; no frame binding yet
    assert ind._halo_on is True
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # the decision ran no Spark job
    got = _rows(ind.collect())
    want = _rows(Indicators(src, halo=False).sma(["close"], 5).collect())
    assert got == want


def test_many_rebuckets_bounded_and_exact(spark):
    """A budget-starved chain (halo_depth barely above one window) forces
    a re-halo per operator; without the periodic localCheckpoint the
    nested halo plans (~3 subtree refs per re-halo) hang Catalyst
    analysis outright.  12 rebuckets must complete promptly and match
    the plain form."""
    src = _prices(spark, n=300)
    ind = Indicators(src, halo=True, halo_buckets=3, halo_depth=16)
    plain = Indicators(src, halo=False)
    for j in range(12):
        ind.sma(["close"], 15, _suffix=f"s{j}_")
        plain.sma(["close"], 15, _suffix=f"s{j}_")
    assert ind._halo_rebuckets >= 10
    a = _rows(ind.collect())
    b = _rows(plain.collect())
    assert a == b


def test_halo_spec_reuse_charges_sticky_kst(spark):
    """ADVICE r11 (high): kst shares one lag spec across four bindings;
    charging it only at the first binding left the later lag-15/20/30
    re-uses untracked, so a mid-operator re-halo fed stale-depth rc
    columns into the final rolling means (NULL KST on the first rows of
    every bucket).  Charges are now sticky per operator: at halo_depth
    just below kst's composed chain (30 lag + 14 sma = 44 > 40) the
    session must produce values IDENTICAL to the plain form — via
    re-halo or demotion, its choice, but never silently stale."""
    src = _prices(spark, n=800)
    plain = Indicators(src, halo=False).kst(["close"]).collect()
    halo = (
        Indicators(src, halo=True, halo_buckets=4, halo_depth=40)
        .kst(["close"])
        .collect()
    )
    pc, pr = _rows(plain)
    hc, hr = _rows(halo)
    assert pc == hc
    assert pr == hr


def test_halo_composed_chain_exceeding_budget_in_auto_depth(spark):
    """The same hazard at larger periods: kst(roc=(10,40), sma=(10,10))
    composes 40+9=49 with no single binding over halo_depth=44 — the
    old accounting charged 40 once and re-haloed blind.  Must equal
    plain."""
    src = _prices(spark, n=700)
    kw = dict(roc_periods=(10, 40), sma_periods=(10, 10), weights=(1, 2))
    plain = Indicators(src, halo=False).kst(["close"], **kw).collect()
    halo = (
        Indicators(src, halo=True, halo_buckets=3, halo_depth=44)
        .kst(["close"], **kw)
        .collect()
    )
    pc, pr = _rows(plain)
    hc, hr = _rows(halo)
    assert pc == hc
    assert pr == hr


def test_halo_bookkeeping_columns_hidden_from_resolution(spark):
    """ADVICE r11 (low): while a session is active, `_bucket`/`_halo`
    must be invisible to user-facing name resolution — a wildcard
    selector can't compute indicators over them, and naming one
    explicitly fails validation."""
    src = _prices(spark, n=400)
    ind = Indicators(src, halo=True, halo_buckets=3, halo_depth=64).sma(
        ["close"], 5
    )
    assert "_bucket" not in ind._columns and "_halo" not in ind._columns
    resolved = ind._resolve_and_validate([F.col("*")])
    assert "_bucket" not in resolved and "_halo" not in resolved
    with pytest.raises(ValueError):
        ind._resolve_and_validate(["_bucket"])
    # and the wildcard op end-to-end emits no bookkeeping-derived output
    ind.sma(resolved[:1], 3)
    out = ind.collect()
    assert not [c for c in out.columns if c.startswith("_bucket")]


def test_boundary_with_pending_specs_fails_loudly(spark):
    """ADVICE r12 (low): the sticky budget's soundness rests on the
    validate-once-at-entry convention — a boundary crossed while specs
    are created-but-unbound must raise instead of silently resetting
    the live charges (the r11 stale-halo truncation class)."""
    src = _prices(spark, n=400)
    ind = Indicators(src, halo=True, halo_buckets=3, halo_depth=64)
    # simulate a convention-violating operator: create a spec, then hit
    # the next operator's entry hook before any binding settles it
    ind._word(True, back=5)
    assert ind._pending_specs == 1
    with pytest.raises(RuntimeError, match="created but not yet bound"):
        ind._halo_op_boundary()
    # a settled session crosses boundaries freely (the normal path)
    ind2 = Indicators(src, halo=True, halo_buckets=3, halo_depth=64)
    ind2.sma(["close"], 5).rsi(["close"], 7)
    ind2._halo_op_boundary()  # no raise


def test_dual_halo_guards(spark):
    """``halo`` accepts only None, True and False: the withdrawn
    ``"dual"`` value is rejected like any other unknown mode."""
    src = _prices(spark, n=20, symbol=True)
    for mode in ("dual", "both"):
        with pytest.raises(ValueError, match="unknown halo mode"):
            Indicators(src, halo=mode)
