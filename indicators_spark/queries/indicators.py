"""Indicator family: the fluent ``Indicators`` operators on the
``prices`` derivation, each checked against a windowed DuckDB oracle.

EWM-family queries use *exact* recursive-CTE oracles.  EWMs are
first-order linear recurrences, so DuckDB can replay them exactly:

* adjust=False (the ``ema()`` flavor):  ``e' = (1-a)·e + a·x``
* adjust=True  (Polars-default span):   ``e = num/den``,
  ``num' = x + (1-a)·num``, ``den' = 1 + (1-a)·den``

Verified against pandas to ≤2e-15 relative; the shared quantizer's 1e-9
bias absorbs the residual ulps.  Chained smoothings (macd signal, trix's
triple EMA, tsi's double smoothing) carry several accumulators through ONE
recursion — same shape as the engine's single-shuffle EWM programs.

Cost control: a recursive CTE steps once per row rank, so the reference's
*global* (un-partitioned) EWM ops — mass_index / keltner / tsi / stc —
are checked on a deterministic ``seq < 2500`` subset (mirrored on both
sides); per-symbol ops recurse in parallel across symbols and use the full
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import Indicators
from ..sources.prices import prices_from_events
from ._base import (
    ORDER,
    Query,
    _gated,
    _ind_query,
    _r,
    _register,
    _sql,
    _wcum,
    _word,
    _ws,
    round4,
)


# ---- sma ------------------------------------------------------------- #
_register(
    "sma",
    Query(
        spark=_ind_query(lambda i: i.sma(["close"], 20), ["close_sma_20"]),
        sql=_sql(
            f"""out AS (
  SELECT symbol, seq, {_gated('avg(close)', 'close', 20, _ws(20))} AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'close_sma_20')} FROM out"""
        ),
    ),
)


# ---- rsi (global delta, per-symbol means — faithful mix) -------------- #
_register(
    "rsi",
    Query(
        spark=_ind_query(lambda i: i.rsi(["close"], 14), ["close_rsi_14"]),
        sql=_sql(
            f"""d AS (
  SELECT *, close - lag(close) OVER {_word(False)} AS delta FROM prices
),
g AS (
  SELECT symbol, seq, "timestamp",
    CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0 END AS gain,
    CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN abs(delta) ELSE 0 END AS loss
  FROM d
),
a AS (
  SELECT symbol, seq,
    {_gated('avg(gain)', 'gain', 14, _ws(14))} AS ag,
    {_gated('avg(loss)', 'loss', 14, _ws(14))} AS al
  FROM g
)
SELECT symbol, seq, {_r('100 - 100/(1 + ag/NULLIF(al, 0))', 'close_rsi_14')} FROM a"""
        ),
    ),
)


# ---- roc (global) ------------------------------------------------------ #
_register(
    "roc",
    Query(
        spark=_ind_query(lambda i: i.roc(["close"], 10), ["close_roc_10"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq,
    (close - lag(close, 10) OVER {_word(False)})
      / NULLIF(lag(close, 10) OVER {_word(False)}, 0) * 100 AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'close_roc_10')} FROM d"""
        ),
    ),
)


# ---- daily_return / daily_log_return (per symbol) ---------------------- #
_register(
    "daily_return",
    Query(
        spark=_ind_query(lambda i: i.daily_return(["close"]), ["close_daily_return"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq,
    (close - lag(close) OVER {_word()}) / NULLIF(lag(close) OVER {_word()}, 0) * 100 AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'close_daily_return')} FROM d"""
        ),
    ),
)

_register(
    "daily_log_return",
    Query(
        spark=_ind_query(
            lambda i: i.daily_log_return(["close"]), ["close_daily_log_return"]
        ),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, close / NULLIF(lag(close) OVER {_word()}, 0) AS ratio
  FROM prices
)
SELECT symbol, seq,
  {_r('CASE WHEN ratio > 0 THEN ln(ratio) END', 'close_daily_log_return')} FROM d"""
        ),
    ),
)


# ---- bollinger bands (per symbol; name typo preserved) ----------------- #
_register(
    "bollinger_bands",
    Query(
        spark=_ind_query(
            lambda i: i.bollinger_bands(["close"], 20, 2),
            ["close_upprsier_band_20_2", "close_lower_band_20_2"],
        ),
        sql=_sql(
            f"""b AS (
  SELECT symbol, seq,
    {_gated('avg(close)', 'close', 20, _ws(20))} AS m,
    {_gated('stddev_samp(close)', 'close', 20, _ws(20))} AS s
  FROM prices
)
SELECT symbol, seq,
  {_r('m + 2 * s', 'close_upprsier_band_20_2')},
  {_r('m - 2 * s', 'close_lower_band_20_2')}
FROM b"""
        ),
    ),
)


# ---- atr (global) ------------------------------------------------------ #
_SQL_TR_ATR = f"""t AS (
  SELECT symbol, seq, "timestamp",
    greatest(high - low,
             abs(high - lag(close) OVER {_word(False)}),
             abs(low  - lag(close) OVER {_word(False)})) AS tr
  FROM prices
)"""

_register(
    "atr",
    Query(
        spark=_ind_query(lambda i: i.atr(14), ["atr"]),
        sql=_sql(
            f"""{_SQL_TR_ATR}
SELECT symbol, seq, {_r(_gated('avg(tr)', 'tr', 14, _ws(14, False)), 'atr')} FROM t"""
        ),
    ),
)


# ---- stochastic oscillator (global, as-written numerator) -------------- #
_register(
    "stochastic_oscillator",
    Query(
        spark=_ind_query(
            lambda i: i.stochastic_oscillator(14), ["stochastic_oscillator_14"]
        ),
        sql=_sql(
            f"""s AS (
  SELECT symbol, seq, "timestamp", high, low, close, close - low AS cl FROM prices
),
t AS (
  SELECT symbol, seq,
    {_gated('min(cl)', 'cl', 14, _ws(14, False))} AS num,
    {_gated('max(high)', 'high', 14, _ws(14, False))}
      - {_gated('min(low)', 'low', 14, _ws(14, False))} AS den
  FROM s
)
SELECT symbol, seq,
  {_r('num / NULLIF(den, 0) * 100', 'stochastic_oscillator_14')} FROM t"""
        ),
    ),
)


# ---- williams %R (global; verbatim name) -------------------------------- #
_register(
    "williams_ri",
    Query(
        spark=_ind_query(lambda i: i.williams_ri(14), ["williams_%r_14"]),
        sql=_sql(
            f"""t AS (
  SELECT symbol, seq, close,
    {_gated('max(high)', 'high', 14, _ws(14, False))} AS hh,
    {_gated('min(low)', 'low', 14, _ws(14, False))} AS ll
  FROM prices
)
SELECT symbol, seq,
  {_r('(hh - close) / NULLIF(hh - ll, 0) * -100', 'williams_%r_14')} FROM t"""
        ),
    ),
)


# ---- donchian channel (global) ------------------------------------------ #
_register(
    "donchian_channel",
    Query(
        spark=_ind_query(
            lambda i: i.donchian_channel(20),
            ["donchian_upper_20", "donchian_lower_20", "donchian_mid_20"],
        ),
        sql=_sql(
            f"""t AS (
  SELECT symbol, seq,
    {_gated('max(high)', 'high', 20, _ws(20, False))} AS up,
    {_gated('min(low)', 'low', 20, _ws(20, False))} AS lo
  FROM prices
)
SELECT symbol, seq,
  {_r('up', 'donchian_upper_20')},
  {_r('lo', 'donchian_lower_20')},
  {_r('(up + lo)/2', 'donchian_mid_20')}
FROM t"""
        ),
    ),
)


# ---- awesome oscillator (per symbol) ------------------------------------- #
_register(
    "awesome_oscillator",
    Query(
        spark=_ind_query(lambda i: i.awesome_oscillator(5, 34), ["ao_5_34"]),
        sql=_sql(
            f"""m AS (
  SELECT symbol, seq, "timestamp", (high + low)/2 AS mid FROM prices
),
t AS (
  SELECT symbol, seq,
    {_gated('avg(mid)', 'mid', 5, _ws(5))} AS s5,
    {_gated('avg(mid)', 'mid', 34, _ws(34))} AS s34
  FROM m
)
SELECT symbol, seq, {_r('s5 - s34', 'ao_5_34')} FROM t"""
        ),
    ),
)


# ---- vwap / vpt / obv (global cumulative) --------------------------------- #
_register(
    "vwap",
    Query(
        spark=_ind_query(lambda i: i.vwap(), ["vwap"]),
        sql=_sql(
            f"""t AS (
  SELECT symbol, seq,
    sum((high + low + close)/3 * volume) OVER {_wcum(False)} AS num,
    sum(volume) OVER {_wcum(False)} AS den
  FROM prices
)
SELECT symbol, seq, {_r('num / NULLIF(den, 0)', 'vwap')} FROM t"""
        ),
    ),
)

_register(
    "vpt",
    Query(
        # vpt grows to ~1e6: compare in signed-log domain (see slog()).
        spark=_ind_query(lambda i: i.vpt(), ["vpt"], log_outs=("vpt",)),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp",
    (close - lag(close) OVER {_word(False)})
      / NULLIF(lag(close) OVER {_word(False)}, 0) * volume AS chg
  FROM prices
),
c AS (
  SELECT symbol, seq, sum(chg) OVER {_wcum(False)} AS v FROM d
)
SELECT symbol, seq, {_r('sign(v) * ln(1 + abs(v))', 'vpt')} FROM c"""
        ),
    ),
)

_register(
    "obv",
    Query(
        spark=_ind_query(lambda i: i.obv(), ["obv"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp", volume,
    close - lag(close) OVER {_word(False)} AS df
  FROM prices
),
o AS (
  SELECT symbol, seq, "timestamp",
    (CASE WHEN df IS NULL THEN NULL
          WHEN df > 0 THEN 1.0 WHEN df < 0 THEN -1.0 ELSE 0.0 END) * volume AS chg
  FROM d
)
SELECT symbol, seq, {_r(f'sum(chg) OVER {_wcum(False)}', 'obv')} FROM o"""
        ),
    ),
)


# ---- force index / ease of movement / nvi (global lags) ------------------- #
_register(
    "force_index",
    Query(
        spark=_ind_query(lambda i: i.force_index(), ["force_index"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq,
    (close - lag(close) OVER {_word(False)}) * volume AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'force_index')} FROM d"""
        ),
    ),
)

_register(
    "ease_of_movement",
    Query(
        spark=_ind_query(lambda i: i.ease_of_movement(), ["ease_of_movement"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq,
    (high + low - lag(high) OVER {_word(False)} - lag(low) OVER {_word(False)})
      / NULLIF(volume, 0) AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'ease_of_movement')} FROM d"""
        ),
    ),
)

_register(
    "negative_volume_index",
    Query(
        spark=_ind_query(lambda i: i.negative_volume_index(), ["nvi"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp", volume,
    close / NULLIF(lag(close) OVER {_word(False)}, 0) - 1 AS ret,
    lag(volume) OVER {_word(False)} AS vol1
  FROM prices
),
c AS (
  SELECT symbol, seq, volume, vol1,
    sum(ret) OVER {_wcum(False)} AS cumret
  FROM d
)
SELECT symbol, seq,
  {_r('CASE WHEN volume < vol1 THEN cumret WHEN volume IS NULL OR vol1 IS NULL THEN NULL ELSE 0.0 END', 'nvi')}
FROM c"""
        ),
    ),
)


# ---- chaikin money flow (global) ------------------------------------------ #
_register(
    "chaikin_money_flow",
    Query(
        spark=_ind_query(lambda i: i.chaikin_money_flow(14), ["cmf_14"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp", volume,
    ((close - low) - (high - close)) / NULLIF(high - low, 0) * volume AS mfv
  FROM prices
),
t AS (
  SELECT symbol, seq,
    {_gated('sum(mfv)', 'mfv', 14, _ws(14, False))} AS num,
    {_gated('sum(volume)', 'volume', 14, _ws(14, False))} AS den
  FROM d
)
SELECT symbol, seq, {_r('num / NULLIF(den, 0)', 'cmf_14')} FROM t"""
        ),
    ),
)


# ---- cci (global; two-stage mean deviation) -------------------------------- #
_register(
    "cci",
    Query(
        spark=_ind_query(lambda i: i.cci(14), ["CCI"]),
        sql=_sql(
            f"""tp AS (
  SELECT symbol, seq, "timestamp", (high + low + close)/3 AS tp FROM prices
),
s1 AS (
  SELECT symbol, seq, "timestamp", tp,
    {_gated('avg(tp)', 'tp', 14, _ws(14, False))} AS sma_tp
  FROM tp
),
s2 AS (
  SELECT symbol, seq, "timestamp", tp, sma_tp, abs(tp - sma_tp) AS dev FROM s1
),
s3 AS (
  SELECT symbol, seq, tp, sma_tp,
    {_gated('avg(dev)', 'dev', 14, _ws(14, False))} AS md
  FROM s2
)
SELECT symbol, seq, {_r('(tp - sma_tp) / NULLIF(0.015 * md, 0)', 'CCI')} FROM s3"""
        ),
    ),
)


# ---- dpo (global) ----------------------------------------------------------- #
_register(
    "dpo",
    Query(
        spark=_ind_query(lambda i: i.dpo(["close"], 20), ["close_dpo_20"]),
        sql=_sql(
            f"""s AS (
  SELECT symbol, seq, "timestamp", close,
    {_gated('avg(close)', 'close', 20, _ws(20, False))} AS sma
  FROM prices
),
t AS (
  SELECT symbol, seq, close - lag(sma, 11) OVER {_word(False)} AS v FROM s
)
SELECT symbol, seq, {_r('v', 'close_dpo_20')} FROM t"""
        ),
    ),
)


# ---- adx (global; as-written TR) --------------------------------------------- #
_register(
    "adx",
    Query(
        spark=_ind_query(lambda i: i.adx(14), ["adx"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp",
    greatest(high - close,
             abs(high - lag(close) OVER {_word(False)}),
             abs(low  - lag(close) OVER {_word(False)})) AS tr,
    high - lag(high) OVER {_word(False)} AS up,
    lag(low) OVER {_word(False)} - low AS dn
  FROM prices
),
m AS (
  SELECT symbol, seq, "timestamp", tr,
    CASE WHEN up IS NULL THEN NULL WHEN up > 0 THEN up ELSE 0 END AS pdm,
    CASE WHEN dn IS NULL THEN NULL WHEN dn > 0 THEN dn ELSE 0 END AS ndm
  FROM d
),
s AS (
  SELECT symbol, seq, "timestamp",
    {_gated('avg(tr)', 'tr', 14, _ws(14, False))} AS str,
    {_gated('avg(pdm)', 'pdm', 14, _ws(14, False))} AS spdm,
    {_gated('avg(ndm)', 'ndm', 14, _ws(14, False))} AS sndm
  FROM m
),
di AS (
  SELECT symbol, seq, "timestamp",
    spdm / NULLIF(str, 0) * 100 AS pdi,
    sndm / NULLIF(str, 0) * 100 AS ndi
  FROM s
),
dx AS (
  SELECT symbol, seq, "timestamp",
    abs(pdi - ndi) / NULLIF(pdi + ndi, 0) * 100 AS dx
  FROM di
)
SELECT symbol, seq, {_r(_gated('avg(dx)', 'dx', 14, _ws(14, False)), 'adx')} FROM dx"""
        ),
    ),
)


# ---- vortex (global; verbatim +VI/-VI names) ----------------------------------- #
_register(
    "vortex",
    Query(
        spark=_ind_query(lambda i: i.vortex(14), ["+VI", "-VI"]),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp",
    greatest(high - low,
             abs(high - lag(close) OVER {_word(False)}),
             abs(low  - lag(close) OVER {_word(False)})) AS tr,
    abs(high - lag(low)  OVER {_word(False)}) AS vmp,
    abs(low  - lag(high) OVER {_word(False)}) AS vmn
  FROM prices
),
s AS (
  SELECT symbol, seq,
    {_gated('sum(tr)', 'tr', 14, _ws(14, False))} AS trs,
    {_gated('sum(vmp)', 'vmp', 14, _ws(14, False))} AS vmps,
    {_gated('sum(vmn)', 'vmn', 14, _ws(14, False))} AS vmns
  FROM d
)
SELECT symbol, seq,
  {_r('vmps / NULLIF(trs, 0)', '+VI')},
  {_r('vmns / NULLIF(trs, 0)', '-VI')}
FROM s"""
        ),
    ),
)


# ---- ultimate oscillator (global; as-written TR; null-as-0 sum) ----------------- #
_register(
    "ultimate_oscillator",
    Query(
        spark=_ind_query(
            lambda i: i.ultimate_oscillator(7, 14, 28, 4, 2, 2),
            ["UO_7_14_28_4_2_2"],
        ),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp",
    close - least(low, lag(close) OVER {_word(False)}) AS bp,
    greatest(high, lag(close) OVER {_word(False)})
      - greatest(low, lag(close) OVER {_word(False)}) AS tr
  FROM prices
),
s AS (
  SELECT symbol, seq,
    {_gated('avg(bp)', 'bp', 7, _ws(7, False))}
      / NULLIF({_gated('avg(tr)', 'tr', 7, _ws(7, False))}, 0) * 4 AS u1,
    {_gated('avg(bp)', 'bp', 14, _ws(14, False))}
      / NULLIF({_gated('avg(tr)', 'tr', 14, _ws(14, False))}, 0) * 2 AS u2,
    {_gated('avg(bp)', 'bp', 28, _ws(28, False))}
      / NULLIF({_gated('avg(tr)', 'tr', 28, _ws(28, False))}, 0) * 2 AS u3
  FROM d
)
SELECT symbol, seq,
  {_r('(COALESCE(u1,0) + COALESCE(u2,0) + COALESCE(u3,0)) * 100 / 8', 'UO_7_14_28_4_2_2')}
FROM s"""
        ),
    ),
)


# ---- ichimoku (global; literal-26 + look-ahead quirks) --------------------------- #
_register(
    "ichimoku",
    Query(
        spark=_ind_query(
            lambda i: i.ichimoku(9, 26, 52),
            ["tenkan_sen", "kijun_sen", "senkou_span_b", "chikou_span", "senkou_span_a"],
        ),
        sql=_sql(
            f"""m AS (
  SELECT symbol, seq, "timestamp", close,
    ({_gated('max(high)', 'high', 9, _ws(9, False))}
     + {_gated('min(low)', 'low', 9, _ws(9, False))})/2 AS tenkan,
    ({_gated('max(high)', 'high', 26, _ws(26, False))}
     + {_gated('min(low)', 'low', 26, _ws(26, False))})/2 AS kijun,
    ({_gated('max(high)', 'high', 52, _ws(52, False))}
     + {_gated('min(low)', 'low', 52, _ws(52, False))})/2 AS mid52
  FROM prices
),
t AS (
  SELECT symbol, seq, tenkan, kijun,
    lag(mid52, 26) OVER {_word(False)} AS senkou_b,
    lead(close, 26) OVER {_word(False)} AS chikou,
    lag((tenkan + kijun)/2, 26) OVER {_word(False)} AS senkou_a
  FROM m
)
SELECT symbol, seq,
  {_r('tenkan', 'tenkan_sen')},
  {_r('kijun', 'kijun_sen')},
  {_r('senkou_b', 'senkou_span_b')},
  {_r('chikou', 'chikou_span')},
  {_r('senkou_a', 'senkou_span_a')}
FROM t"""
        ),
    ),
)


# ---- mfi / adi (global; dead-code specs) ------------------------------------------ #
_register(
    "mfi",
    Query(
        spark=_ind_query(lambda i: i.mfi(14), ["MFI"]),
        sql=_sql(
            f"""tp AS (
  SELECT symbol, seq, "timestamp", volume, (high + low + close)/3 AS tp FROM prices
),
d AS (
  SELECT symbol, seq, "timestamp", tp * volume AS rmf,
    tp - lag(tp) OVER {_word(False)} AS dtp
  FROM tp
),
m AS (
  SELECT symbol, seq, "timestamp",
    CASE WHEN dtp IS NULL THEN NULL WHEN dtp > 0 THEN rmf ELSE 0 END AS pos,
    CASE WHEN dtp IS NULL THEN NULL WHEN dtp <= 0 THEN rmf ELSE 0 END AS neg
  FROM d
),
s AS (
  SELECT symbol, seq,
    {_gated('sum(pos)', 'pos', 14, _ws(14, False))} AS p,
    {_gated('sum(neg)', 'neg', 14, _ws(14, False))} AS n
  FROM m
)
SELECT symbol, seq, {_r('100 - 100/(1 + p/NULLIF(n, 0))', 'MFI')} FROM s"""
        ),
    ),
)

_register(
    "adi",
    Query(
        # cumulative money-flow sum grows large: signed-log comparison.
        spark=_ind_query(lambda i: i.adi(), ["ADI"], log_outs=("ADI",)),
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp",
    ((close - low) - (high - close)) / NULLIF(high - low, 0) * volume AS mfv
  FROM prices
),
c AS (
  SELECT symbol, seq, sum(mfv) OVER {_wcum(False)} AS v FROM d
)
SELECT symbol, seq, {_r('sign(v) * ln(1 + abs(v))', 'ADI')} FROM c"""
        ),
    ),
)


# ---- ulcer index (global; fixed-vs-reference) -------------------------------------- #
_register(
    "unlcer_index",
    Query(
        spark=_ind_query(
            lambda i: i.unlcer_index(["close"], 14), ["close_ulcer_index_14"]
        ),
        sql=_sql(
            f"""s AS (
  SELECT symbol, seq, "timestamp", close,
    {_gated('max(close)', 'close', 14, _ws(14, False))} AS mx
  FROM prices
),
d AS (
  SELECT symbol, seq, "timestamp",
    (close / NULLIF(mx, 0) - 1) * (close / NULLIF(mx, 0) - 1) AS dd2
  FROM s
)
SELECT symbol, seq,
  {_r(f"sqrt({_gated('avg(dd2)', 'dd2', 14, _ws(14, False))})", 'close_ulcer_index_14')}
FROM d"""
        ),
    ),
)


# ---- wma (per symbol; dead-code spec weights 1..n) ---------------------------------- #
_register(
    "wma",
    Query(
        spark=_ind_query(lambda i: i.wma(["close"], 10), ["close_wma_10"]),
        sql=_sql(
            f"""t AS (
  SELECT symbol, seq,
    ({' + '.join(f'lag(close, {k}) OVER {_word()} * {10 - k}' for k in range(10))})
      / 55.0 AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'close_wma_10')} FROM t"""
        ),
    ),
)


# ---- aroon (global; dead-code spec, first-occurrence argmax) ------------------------- #
_register(
    "aroon",
    Query(
        spark=_ind_query(
            lambda i: i.aroon(14), ["aroon_up_14", "aroon_down_14"]
        ),
        sql=_sql(
            f"""rn AS (
  SELECT symbol, seq, "timestamp", high, low,
    row_number() OVER {_word(False)} AS rn
  FROM prices
),
t AS (
  SELECT symbol, seq, rn,
    {_gated("max({'v': high, 'nr': -rn})", 'high', 14, _ws(14, False))} AS bh,
    {_gated("max({'v': -low, 'nr': -rn})", 'low', 14, _ws(14, False))} AS bl
  FROM rn
)
SELECT symbol, seq,
  {_r('100 * (14 - (rn - (-(bh.nr)) + 1)) / 14', 'aroon_up_14')},
  {_r('100 * (14 - (rn - (-(bl.nr)) + 1)) / 14', 'aroon_down_14')}
FROM t"""
        ),
    ),
)


# ---- kst (global; dead-code spec) ----------------------------------------------------- #
_KST_TERMS = []
for _i, (_rp, _sp, _wt) in enumerate(
    zip((10, 15, 20, 30), (10, 10, 10, 15), (1, 2, 3, 4)), start=1
):
    _KST_TERMS.append((_i, _rp, _sp, _wt))

_register(
    "kst",
    Query(
        spark=_ind_query(lambda i: i.kst(["close"]), ["KST"]),
        sql=_sql(
            f"""r AS (
  SELECT symbol, seq, "timestamp",
    {', '.join(f'''(close - lag(close, {rp}) OVER {_word(False)})
      / NULLIF(lag(close, {rp}) OVER {_word(False)}, 0) * 100 AS roc{i}''' for i, rp, sp, wt in _KST_TERMS)}
  FROM prices
),
s AS (
  SELECT symbol, seq,
    {' + '.join(f"{_gated(f'avg(roc{i})', f'roc{i}', sp, _ws(sp, False))} * {wt}" for i, rp, sp, wt in _KST_TERMS)} AS v
  FROM r
)
SELECT symbol, seq, {_r('v', 'KST')} FROM s"""
        ),
    ),
)


# ---- stochastic_rsi (faithful: max-max denominator ⇒ all-NULL output) ------------------ #
_register(
    "stochastic_rsi",
    Query(
        spark=_ind_query(
            lambda i: i.stochastic_rsi(["close"], 14, 14),
            ["close_stoch_rsi_14_14"],
        ),
        sql=_sql(
            """out AS (
  SELECT symbol, seq, CAST(NULL AS DOUBLE) AS close_stoch_rsi_14_14 FROM prices
)
SELECT * FROM out"""
        ),
    ),
)


# ---- stochastic_rsi_fixed (extension; full pipeline oracle) ----------------------------- #
_register(
    "stochastic_rsi_fixed",
    Query(
        spark=_ind_query(
            lambda i: i.stochastic_rsi_fixed(["close"], 14, 14),
            ["close_stoch_rsi_fixed_14_14"],
        ),
        sql=_sql(
            f"""d AS (
  SELECT *, close - lag(close) OVER {_word(False)} AS delta FROM prices
),
g AS (
  SELECT symbol, seq, "timestamp",
    CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0 END AS gain,
    CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN abs(delta) ELSE 0 END AS loss
  FROM d
),
a AS (
  SELECT symbol, seq, "timestamp",
    100 - 100/(1 + ({_gated('avg(gain)', 'gain', 14, _ws(14))})
                   / NULLIF({_gated('avg(loss)', 'loss', 14, _ws(14))}, 0)) AS rsi
  FROM g
),
t AS (
  SELECT symbol, seq,
    rsi - {_gated('min(rsi)', 'rsi', 14, _ws(14, False))} AS num,
    {_gated('max(rsi)', 'rsi', 14, _ws(14, False))}
      - {_gated('min(rsi)', 'rsi', 14, _ws(14, False))} AS den
  FROM a
)
SELECT symbol, seq,
  {_r('num / NULLIF(den, 0)', 'close_stoch_rsi_fixed_14_14')} FROM t"""
        ),
    ),
)


# ---- fill_null (forward fill on a column with synthesized nulls) ------------------------- #


def _fill_null_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = prices_from_events(spark, sf_dir).withColumn(
        "gappy", F.when(F.col("seq") % 7 != 0, F.col("close"))
    )
    ind = Indicators(p, order_by=("timestamp", "seq"))
    ind.fill_null(["gappy"], method="forward")
    df = ind.collect()
    return df.select("symbol", "seq", round4(df["gappy"]).alias("gappy"))


_register(
    "fill_null_forward",
    Query(
        spark=_fill_null_spark,
        sql=_sql(
            f"""g AS (
  SELECT symbol, seq, "timestamp",
    CASE WHEN seq % 7 != 0 THEN close END AS gappy
  FROM prices
)
SELECT symbol, seq,
  {_r(f'last_value(gappy IGNORE NULLS) OVER {_wcum()}', 'gappy')}
FROM g"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# EWM family: exact recursive-CTE oracles (see the module docstring)
# --------------------------------------------------------------------- #

# MATERIALIZED: DuckDB re-evaluates plain CTEs on every recursive-CTE
# iteration, so each EWM replay level re-ran the window-over-scan
# (~22-27s per oracle); materializing turns the per-level join into a
# lookup (~3s). Results are identical — purely an oracle-cost fix.
_BASE_SYM = f"""base AS MATERIALIZED (
  SELECT symbol, seq, "timestamp", close, volume, high, low,
         row_number() OVER (PARTITION BY symbol ORDER BY {ORDER}) AS rn
  FROM prices
)"""


#: Global-op subset (recursion cost ∝ max row rank).
_CUT = 2500
_BASE_GLOB = f"""sub AS MATERIALIZED (
  SELECT * FROM prices WHERE seq < {_CUT}
),
base AS MATERIALIZED (
  SELECT symbol, seq, "timestamp", close, volume, high, low,
         row_number() OVER (ORDER BY {ORDER}) AS rn
  FROM sub
)"""


def _a(span: int) -> str:
    """SQL literal for alpha=2/(span+1) — same IEEE divide as Python/pandas."""
    return f"(2.0/{span + 1})"


def _glob_pre(df):
    return df.filter(F.col("seq") < _CUT)


# ---- ema (per symbol, adjust=False) ------------------------------------- #
_register(
    "ema",
    Query(
        spark=_ind_query(lambda i: i.ema(["close"], 20), ["close_ema_20"]),
        sql=_sql(
            f"""{_BASE_SYM},
rec AS (
  SELECT symbol, seq, rn, close AS x, close AS e FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b.rn, b.close,
         (1 - {_a(20)})*r.e + {_a(20)}*b.close
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, seq, {_r('e', 'close_ema_20')} FROM rec""",
            recursive=True,
        ),
    ),
)


# ---- macd (per symbol; only the signal line survives) --------------------- #
_ES, _EL, _SG = _a(12), _a(26), _a(9)
_ES_STEP = f"(1 - {_ES})*r.es + {_ES}*b.close"
_EL_STEP = f"(1 - {_EL})*r.el + {_EL}*b.close"
_register(
    "macd",
    Query(
        spark=_ind_query(lambda i: i.macd(["close"]), ["close_signal_line"]),
        sql=_sql(
            f"""{_BASE_SYM},
rec AS (
  SELECT symbol, seq, rn, close, close AS es, close AS el,
         CAST(0.0 AS DOUBLE) AS sig
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b.rn, b.close,
         {_ES_STEP},
         {_EL_STEP},
         (1 - {_SG})*r.sig + {_SG}*(({_ES_STEP}) - ({_EL_STEP}))
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, seq, {_r('sig', 'close_signal_line')} FROM rec""",
            recursive=True,
        ),
    ),
)


# ---- ppo / pvo (per symbol; line + signal + histogram) --------------------- #
def _ppo_sql(col: str, name: str) -> str:
    es, el, sg = _a(12), _a(26), _a(9)
    es_step = f"(1 - {es})*r.es + {es}*b.{col}"
    el_step = f"(1 - {el})*r.el + {el}*b.{col}"
    line_step = f"(({es_step}) - ({el_step})) / NULLIF(({el_step}), 0) * 100"
    return _sql(
        f"""{_BASE_SYM},
rec AS (
  SELECT symbol, seq, rn, {col} AS x, {col} AS es, {col} AS el,
         CAST(0.0 AS DOUBLE) AS line, CAST(0.0 AS DOUBLE) AS sig
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b.rn, b.{col},
         {es_step},
         {el_step},
         {line_step},
         (1 - {sg})*r.sig + {sg}*({line_step})
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, seq,
  {_r('line', f'{name}_12_26')},
  {_r('sig', f'{name}_signal_12_26')},
  {_r('line - sig', f'{name}_histogram_12_26')}
FROM rec""",
        recursive=True,
    )


_register(
    "ppo",
    Query(
        spark=_ind_query(
            lambda i: i.ppo(),
            ["ppo_12_26", "ppo_signal_12_26", "ppo_histogram_12_26"],
        ),
        sql=_ppo_sql("close", "ppo"),
    ),
)

_register(
    "pvo",
    Query(
        spark=_ind_query(
            lambda i: i.pvo(),
            ["pvo_12_26", "pvo_signal_12_26", "pvo_histogram_12_26"],
        ),
        sql=_ppo_sql("volume", "pvo"),
    ),
)


# ---- trix (per-symbol triple EMA, global pct_change) ------------------------ #
_AT = _a(15)
_E1 = f"(1 - {_AT})*r.e1 + {_AT}*b.close"
_E2 = f"(1 - {_AT})*r.e2 + {_AT}*({_E1})"
_E3 = f"(1 - {_AT})*r.e3 + {_AT}*({_E2})"
_register(
    "trix",
    Query(
        spark=_ind_query(lambda i: i.trix(15), ["trix_15"]),
        sql=_sql(
            f"""{_BASE_SYM},
rec AS (
  SELECT symbol, seq, "timestamp", rn, close,
         close AS e1, close AS e2, close AS e3
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b."timestamp", b.rn, b.close,
         {_E1}, {_E2}, {_E3}
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
),
t AS (
  SELECT symbol, seq,
    (e3 - lag(e3) OVER {_word(False)}) / NULLIF(lag(e3) OVER {_word(False)}, 0) AS v
  FROM rec
)
SELECT symbol, seq, {_r('v', 'trix_15')} FROM t""",
            recursive=True,
        ),
    ),
)


# ---- mass_index (GLOBAL span-EWM ×2; seq<2500 subset) ------------------------ #
_A9 = _a(9)
_N1 = f"(b.high - b.low) + (1 - {_A9})*r.n1"
_D1 = f"1 + (1 - {_A9})*r.d1"
_N2 = f"(({_N1})/({_D1})) + (1 - {_A9})*r.n2"
_D2 = f"1 + (1 - {_A9})*r.d2"
_register(
    "mass_index",
    Query(
        spark=_ind_query(
            lambda i: i.mass_index(9, 26), ["mass_index_9_26"], pre=_glob_pre
        ),
        sql=_sql(
            f"""{_BASE_GLOB},
rec AS (
  SELECT symbol, seq, "timestamp", rn, high, low,
         high - low AS n1, CAST(1.0 AS DOUBLE) AS d1,
         high - low AS n2, CAST(1.0 AS DOUBLE) AS d2
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b."timestamp", b.rn, b.high, b.low,
         {_N1}, {_D1}, {_N2}, {_D2}
  FROM base b JOIN rec r ON b.rn = r.rn + 1
),
ratio AS (
  SELECT symbol, seq, "timestamp",
    (n1/d1) / NULLIF(n2/d2, 0) AS er
  FROM rec
)
SELECT symbol, seq,
  {_r(_gated('sum(er)', 'er', 26, _ws(26, False)), 'mass_index_9_26')}
FROM ratio""",
            recursive=True,
        ),
    ),
)


# ---- keltner channel (GLOBAL span-EWM middle band; seq<2500 subset) ----------- #
_A20 = _a(20)
_register(
    "keltner_channel",
    Query(
        spark=_ind_query(
            lambda i: i.keltner_channel(20, 14, 2),
            ["KC_Upper_Band_20_14_2", "KC_Lower_Band_20_14_2"],
            pre=_glob_pre,
        ),
        sql=_sql(
            f"""{_BASE_GLOB},
rec AS (
  SELECT symbol, seq, "timestamp", rn, close,
         close AS n, CAST(1.0 AS DOUBLE) AS d
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b."timestamp", b.rn, b.close,
         b.close + (1 - {_A20})*r.n,
         1 + (1 - {_A20})*r.d
  FROM base b JOIN rec r ON b.rn = r.rn + 1
),
tr AS (
  SELECT s.symbol, s.seq, s."timestamp", rec.n/rec.d AS mid,
    greatest(s.high, lag(s.close) OVER (ORDER BY s."timestamp", s.seq))
      - least(s.low, lag(s.close) OVER (ORDER BY s."timestamp", s.seq)) AS tr
  FROM sub s JOIN rec ON s.seq = rec.seq
),
atr AS (
  SELECT symbol, seq, mid,
    {_gated('avg(tr)', 'tr', 14, _ws(14, False))} AS atr
  FROM tr
)
SELECT symbol, seq,
  {_r('mid + atr * 2', 'KC_Upper_Band_20_14_2')},
  {_r('mid - atr * 2', 'KC_Lower_Band_20_14_2')}
FROM atr""",
            recursive=True,
        ),
    ),
)


# ---- true_strength_index (GLOBAL double span-EWM of delta & |delta|) ----------- #
_AS13, _AL25 = _a(13), _a(25)
_TN1 = f"b.delta + (1 - {_AS13})*r.n1"
_TD1 = f"1 + (1 - {_AS13})*r.d1"
_TN2 = f"(({_TN1})/({_TD1})) + (1 - {_AL25})*r.n2"
_TD2 = f"1 + (1 - {_AL25})*r.d2"
_TA1 = f"abs(b.delta) + (1 - {_AS13})*r.a1"
_TB1 = f"1 + (1 - {_AS13})*r.b1"
_TA2 = f"(({_TA1})/({_TB1})) + (1 - {_AL25})*r.a2"
_TB2 = f"1 + (1 - {_AL25})*r.b2"
_register(
    "true_strength_index",
    Query(
        spark=_ind_query(
            lambda i: i.true_strength_index(["close"], 13, 25),
            ["close_tsi_13_25"],
            pre=_glob_pre,
        ),
        sql=_sql(
            f"""{_BASE_GLOB},
d AS (
  SELECT symbol, seq, "timestamp", rn,
    close - lag(close) OVER (ORDER BY rn) AS delta
  FROM base
),
rec AS (
  -- recursion starts at rn=2: the leading NULL delta is skipped, matching
  -- pandas ewm over a leading-NaN series
  SELECT symbol, seq, rn, delta,
         delta AS n1, CAST(1.0 AS DOUBLE) AS d1,
         delta AS n2, CAST(1.0 AS DOUBLE) AS d2,
         abs(delta) AS a1, CAST(1.0 AS DOUBLE) AS b1,
         abs(delta) AS a2, CAST(1.0 AS DOUBLE) AS b2
  FROM d WHERE rn = 2
  UNION ALL
  SELECT b.symbol, b.seq, b.rn, b.delta,
         {_TN1}, {_TD1}, {_TN2}, {_TD2},
         {_TA1}, {_TB1}, {_TA2}, {_TB2}
  FROM d b JOIN rec r ON b.rn = r.rn + 1
),
out AS (
  SELECT symbol, seq, 100 * (n2/d2) / NULLIF(a2/b2, 0) AS v FROM rec
  UNION ALL
  SELECT symbol, seq, CAST(NULL AS DOUBLE) FROM d WHERE rn = 1
)
SELECT symbol, seq, {_r('v', 'close_tsi_13_25')} FROM out""",
            recursive=True,
        ),
    ),
)


# ---- stc (GLOBAL; dead-code spec; intermediates stay in frame) ------------------ #
_AF, _ASL, _ASG = _a(12), _a(26), _a(9)
_SNF = f"b.close + (1 - {_AF})*r.nf"
_SDF = f"1 + (1 - {_AF})*r.df"
_SNS = f"b.close + (1 - {_ASL})*r.ns"
_SDS = f"1 + (1 - {_ASL})*r.ds"
_SM = f"(({_SNF})/({_SDF})) - (({_SNS})/({_SDS}))"
_SNG = f"({_SM}) + (1 - {_ASG})*r.ng"
_SDG = f"1 + (1 - {_ASG})*r.dg"
_register(
    "stc",
    Query(
        spark=_ind_query(
            lambda i: i.stc(["close"], 12, 26, 9, 10),
            ["_close_macd_line", "_close_signal_line", "close_stc_12_26_10"],
            pre=_glob_pre,
        ),
        sql=_sql(
            f"""{_BASE_GLOB},
rec AS (
  SELECT symbol, seq, "timestamp", rn, close,
         close AS nf, CAST(1.0 AS DOUBLE) AS df,
         close AS ns, CAST(1.0 AS DOUBLE) AS ds,
         CAST(0.0 AS DOUBLE) AS ng, CAST(1.0 AS DOUBLE) AS dg
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b."timestamp", b.rn, b.close,
         {_SNF}, {_SDF}, {_SNS}, {_SDS}, {_SNG}, {_SDG}
  FROM base b JOIN rec r ON b.rn = r.rn + 1
),
m AS (
  SELECT symbol, seq, "timestamp",
    (nf/df) - (ns/ds) AS macd, ng/dg AS sig
  FROM rec
),
t AS (
  SELECT symbol, seq, macd, sig,
    macd - {_gated('min(macd)', 'macd', 10, _ws(10, False))} AS num,
    {_gated('max(macd)', 'macd', 10, _ws(10, False))}
      - {_gated('min(macd)', 'macd', 10, _ws(10, False))} AS den
  FROM m
)
SELECT symbol, seq,
  {_r('macd', '_close_macd_line')},
  {_r('sig', '_close_signal_line')},
  {_r('num / NULLIF(den, 0) * 100', 'close_stc_12_26_10')}
FROM t""",
            recursive=True,
        ),
    ),
)


# ---- cumulative_returns (per symbol, first 40 rows; log-domain compare) ---------- #
# The as-written percent-units quirk (∏(1+100·r), SURVEY §2c) overflows a
# double beyond ~150 factors on this data, so the check runs on the first 100
# rows per symbol; DuckDB emulates cum_prod via exp/ln + sign/zero handling.


def _cumret_pre(df):
    from pyspark.sql import Window

    w = Window.partitionBy("symbol").orderBy("timestamp", "seq")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 100)
        .drop("_rn")
    )


_register(
    "cumulative_returns",
    Query(
        spark=_ind_query(
            lambda i: i.cumulative_returns(["close"]),
            ["close_cumulative_return"],
            log_outs=("close_cumulative_return",),
            pre=_cumret_pre,
        ),
        sql=_sql(
            f"""sub AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY {ORDER}) AS _rn
    FROM prices
  ) WHERE _rn <= 100
),
f AS (
  SELECT symbol, seq, "timestamp",
    1 + (close - lag(close) OVER {_word()}) / NULLIF(lag(close) OVER {_word()}, 0) * 100 AS fac
  FROM sub
),
parts AS (
  SELECT symbol, seq, "timestamp", fac,
    CASE WHEN fac IS NULL THEN NULL WHEN fac = 0 THEN NULL ELSE ln(abs(fac)) END AS lf,
    CASE WHEN fac = 0 THEN 1 WHEN fac IS NOT NULL THEN 0 END AS isz,
    CASE WHEN fac < 0 THEN 1 WHEN fac IS NOT NULL THEN 0 END AS isn
  FROM f
),
agg AS (
  SELECT symbol, seq,
    count(fac) OVER {_wcum()} AS cnt,
    sum(isz) OVER {_wcum()} AS nz,
    sum(isn) OVER {_wcum()} AS nneg,
    sum(lf)  OVER {_wcum()} AS s
  FROM parts
),
v AS (
  SELECT symbol, seq,
    CASE WHEN cnt = 0 THEN NULL
         WHEN nz > 0 THEN 0.0
         ELSE exp(s) * (CASE WHEN nneg % 2 = 1 THEN -1.0 ELSE 1.0 END)
    END AS v
  FROM agg
)
SELECT symbol, seq, {_r('sign(v) * ln(1 + abs(v))', 'close_cumulative_return')} FROM v"""
        ),
    ),
)
