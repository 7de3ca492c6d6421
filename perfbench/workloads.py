"""The benchmark's workloads: what each call builds and how its output is
checked.

A call's ``build`` goes through the public API only — an ``Indicators``
chain ending in ``.collect()`` or a catalog builder
``QUERIES[name].spark(spark, sf_dir)`` — and returns the lazy DataFrame.
Its ``check`` takes the collected output (pandas) outside every timed
region and compares it with a reference computed by another engine: the
catalog's DuckDB oracle SQL (``testing.compare_frames``), DuckDB window
SQL over the long series, or pandas ``ewm``.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd

from indicators_spark import Indicators
from indicators_spark.queries import QUERIES
from indicators_spark.sources import PRICES_SQL_EVENTS, load_table, prices_from_events
from indicators_spark.testing import CompareResult, compare_frames, duck_connect
from pyspark.sql import functions as F


@dataclass
class Inputs:
    sf_dir: str
    cache_dir: str
    long_path: str | None = None
    _con: object = None

    def oracle(self, key: str, sql: str) -> pd.DataFrame:
        """Result of ``sql`` on DuckDB over the benchmark tables, cached as
        parquet per (key, SQL text): the recursive-CTE EWM oracles take
        seconds each, and the tables do not change with the seed."""
        digest = hashlib.sha1(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{key}-{digest}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        if self._con is None:
            self._con = duck_connect(self.sf_dir)
        df = self._con.sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        df.to_parquet(f"{path}.tmp")
        os.replace(f"{path}.tmp", path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


@dataclass(frozen=True)
class Call:
    name: str
    build: Callable  # (spark, Inputs) -> DataFrame
    check: Callable  # (pandas output, Inputs) -> list[CompareResult]
    group: str = ""


@dataclass(frozen=True)
class Workload:
    name: str
    calls: list[Call]
    long_series: bool = False


# ------------------------------------------------------------------ #
# oracle SQL rewrites
# ------------------------------------------------------------------ #

_PRICES_HEAD = PRICES_SQL_EVENTS.strip()


def _body(name: str) -> tuple[str, str]:
    """(WITH keyword, CTE body after the ``prices`` CTEs) of a catalog
    oracle built on the events-derived prices."""
    sql = QUERIES[name].sql_text
    for kw in ("WITH RECURSIVE", "WITH"):
        head = f"{kw} {_PRICES_HEAD}, "
        if sql.startswith(head):
            return kw, sql[len(head):]
    raise ValueError(f"{name}: oracle does not start from the events prices CTE")


def _partition_all(body: str) -> str:
    """Partition every global window by symbol (``partition_mode=
    "per_symbol"``)."""
    return body.replace("(ORDER BY ", "(PARTITION BY symbol ORDER BY ")


def _sql(name: str, per_symbol: bool = False, rekey: bool = False) -> str:
    kw, body = _body(name)
    if per_symbol:
        body = _partition_all(body)
    if not rekey:
        return f"{kw} {_PRICES_HEAD}, {body}"
    head = _PRICES_HEAD.replace("prices AS (", "prices0 AS (")
    rekeyed = (
        "prices AS (SELECT symbol || '_' || CAST(seq % 16 AS VARCHAR) AS symbol, "
        '"timestamp", seq, open, high, low, close, volume FROM prices0)'
    )
    return f"{kw} {head}, {rekeyed}, {body}"


def _long_sql(name: str, path: str) -> str:
    _, body = _body(name)
    prices = (
        "prices AS (SELECT 'x' AS symbol, seq, \"timestamp\", open, high, low, "
        f"close, volume FROM read_parquet('{path}'))"
    )
    return f"WITH {prices}, {body}"


# ------------------------------------------------------------------ #
# checks
# ------------------------------------------------------------------ #

_FAITHFUL_PARTS = ["sma", "bollinger_bands", "rsi", "daily_return"]

#: catalog query → the indicator columns it emits
_COLS = {
    "sma": ["close_sma_20"],
    "bollinger_bands": ["close_upprsier_band_20_2", "close_lower_band_20_2"],
    "rsi": ["close_rsi_14"],
    "daily_return": ["close_daily_return"],
    "atr": ["atr"],
    "donchian_channel": ["donchian_upper_20", "donchian_lower_20", "donchian_mid_20"],
    "ema": ["close_ema_20"],
    "macd": ["close_signal_line"],
    "ppo": ["ppo_12_26", "ppo_signal_12_26", "ppo_histogram_12_26"],
    "pvo": ["pvo_12_26", "pvo_signal_12_26", "pvo_histogram_12_26"],
}


def _round4(x: pd.Series) -> pd.Series:
    """The catalog's quantizer (``queries.round4``), same IEEE op order."""
    return np.floor(x.to_numpy(float) * 10000 + 0.500000001) / 10000


def check_catalog(name: str) -> Callable:
    def check(out: pd.DataFrame, inp: Inputs) -> list[CompareResult]:
        return [compare_frames(name, out, inp.oracle(name, QUERIES[name].sql_text))]

    return check


def check_chain(parts: list[str], per_symbol: bool = False, rekey: bool = False):
    """Compare each indicator column of a flagship chain with the oracle
    of the catalog query that computes it, over the same prices."""

    def check(out: pd.DataFrame, inp: Inputs) -> list[CompareResult]:
        results = []
        for p in parts:
            key = p + ("-per_symbol" if per_symbol else "") + ("-rekey" if rekey else "")
            got = out[["symbol", "seq"]].assign(**{c: _round4(out[c]) for c in _COLS[p]})
            results.append(compare_frames(key, got, inp.oracle(key, _sql(p, per_symbol, rekey))))
        return results

    return check


def _ewm(x: pd.Series, span: int) -> pd.Series:
    return x.ewm(span=span, adjust=False).mean()


def _ppo_frame(x: pd.Series, prefix: str) -> dict[str, pd.Series]:
    es, el = _ewm(x, 12), _ewm(x, 26)
    line = (es - el) / el * 100
    sig = _ewm(line, 9)
    return {
        f"{prefix}_12_26": line,
        f"{prefix}_signal_12_26": sig,
        f"{prefix}_histogram_12_26": line - sig,
    }


def check_long_rolling(out: pd.DataFrame, inp: Inputs) -> list[CompareResult]:
    """Rolling family on the long series vs DuckDB window SQL."""
    import duckdb

    con = duckdb.connect()
    try:
        return [
            compare_frames(
                f"long-{p}",
                out[["seq"]].assign(symbol="x", **{c: _round4(out[c]) for c in _COLS[p]}),
                con.sql(_long_sql(p, inp.long_path)).df(),
            )
            for p in _FAITHFUL_PARTS
        ]
    finally:
        con.close()


def check_long_ewm(out: pd.DataFrame, inp: Inputs) -> list[CompareResult]:
    """EWM family on the long series vs pandas ``ewm(adjust=False)``."""
    src = pd.read_parquet(inp.long_path).sort_values(["timestamp", "seq"])
    es, el = _ewm(src["close"], 12), _ewm(src["close"], 26)
    want = {
        "close_ema_20": _ewm(src["close"], 20),
        "close_signal_line": _ewm(es - el, 9),
        **_ppo_frame(src["close"], "ppo"),
        **_ppo_frame(src["volume"], "pvo"),
    }
    ref = pd.DataFrame({"seq": src["seq"], **want}).set_index("seq")
    got = out[["seq", *want]].set_index("seq").sort_index()
    res = CompareResult(name="long-ewm", ok=True, spark_rows=len(got), oracle_rows=len(ref))
    if len(got) != len(ref) or not got.index.equals(ref.index):
        res.ok = False
        res.issues.append(f"row keys differ: {len(got)} vs {len(ref)} rows")
        return [res]
    for c in want:
        a, b = got[c].to_numpy(float), ref[c].to_numpy(float)
        bad = ~np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
        if bad.any():
            i = int(np.argmax(bad))
            res.ok = False
            res.issues.append(f"{c}: {int(bad.sum())} diffs, first seq {got.index[i]}: {a[i]!r} vs {b[i]!r}")
    return [res]


# ------------------------------------------------------------------ #
# builders
# ------------------------------------------------------------------ #


def _catalog(name: str) -> Call:
    return Call(name, lambda s, inp: QUERIES[name].spark(s, inp.sf_dir), check_catalog(name))


def _faithful_chain(df, halo=None):
    return (
        Indicators(df, order_by=("timestamp", "seq"), halo=halo)
        .sma(["close"], 20).bollinger_bands(["close"], 20, 2).rsi(["close"], 14)
        .daily_return(["close"]).collect()
    )


def _per_symbol(s, inp):
    return (
        Indicators(prices_from_events(s, inp.sf_dir), order_by=("timestamp", "seq"),
                   partition_mode="per_symbol")
        .sma(["close"], 20).bollinger_bands(["close"], 20, 2).rsi(["close"], 14)
        .atr(14).donchian_channel(20).daily_return(["close"]).collect()
    )


def _many_symbols(s, inp):
    p = prices_from_events(s, inp.sf_dir).withColumn(
        "symbol", F.concat_ws("_", "symbol", (F.col("seq") % 16).cast("string"))
    )
    return (
        Indicators(p, order_by=("timestamp", "seq"), partition_mode="per_symbol")
        .sma(["close"], 20).bollinger_bands(["close"], 20, 2).rsi(["close"], 14)
        .atr(14).daily_return(["close"]).collect()
    )


def _ewm_chain_of(df):
    return (
        Indicators(df, order_by=("timestamp", "seq"))
        .ema(["close"], 20).macd(["close"]).ppo().pvo().collect()
    )


def _long(s, inp):
    d, f = os.path.split(inp.long_path)
    return load_table(s, d, f.removesuffix(".parquet"))


def _long_faithful(s, inp):
    # halo=True: the auto dispatch engages at scale.HALO_MIN_ROWS (2M rows),
    # beyond what a run can afford; forcing it keeps the halo session's
    # bucketing, re-halo and collapse on the measured path
    return _faithful_chain(_long(s, inp), halo=True)


def _group(name: str, calls: list[Call]) -> list[Call]:
    return [replace(c, group=name) for c in calls]


#: The four call groups; the benchmark's workloads are unions of them.
GROUPS = {
    # the paper's own surface: fluent chains and catalog indicators on
    # multi-symbol prices; latency-bound, halo never engages
    "ta_chains": _group("ta_chains", [
        Call("flagship_faithful",
             lambda s, inp: _faithful_chain(prices_from_events(s, inp.sf_dir)),
             check_chain(_FAITHFUL_PARTS)),
        Call("flagship_per_symbol", _per_symbol, check_chain(
            ["sma", "bollinger_bands", "rsi", "atr", "donchian_channel",
             "daily_return"], per_symbol=True)),
        Call("flagship_many_symbols", _many_symbols, check_chain(
            ["sma", "bollinger_bands", "rsi", "atr", "daily_return"],
            per_symbol=True, rekey=True)),
        Call("flagship_ewm_chain",
             lambda s, inp: _ewm_chain_of(prices_from_events(s, inp.sf_dir)),
             check_chain(["ema", "macd", "ppo", "pvo"])),
        *map(_catalog, ["sma", "rsi", "macd"]),
    ]),
    # one symbol-less series: executor throughput, the halo session and
    # the single-task Python EWM scan
    "ta_long_series": _group("ta_long_series", [
        Call("long_faithful_halo", _long_faithful, check_long_rolling),
        Call("long_ewm_chain", lambda s, inp: _ewm_chain_of(_long(s, inp)),
             check_long_ewm),
    ]),
    # selection, clustering and training loops on tiny data: driver- and
    # job-latency-bound
    "iterative_select": _group("iterative_select", list(map(_catalog, [
        "analytic_median_selection", "quality_quantile_normalize",
        "classifier_quality_logreg",
    ]))),
    # near-duplicate and text operators over documents: shuffle and
    # Python-UDF work with a skewed tail
    "corpus_dedup": _group("corpus_dedup", list(map(_catalog, [
        "decontaminate_neardup", "text_bpe_encode",
    ]))),
}

#: build + exec job counts the traced run must reproduce exactly
PINNED_JOBS = {
    "analytic_median_selection": (3, 1),
    "quality_quantile_normalize": (3, 11),
    "classifier_quality_logreg": (16, 3),
}


def _workload(name: str, groups: list[str]) -> Workload:
    return Workload(name, [c for g in groups for c in GROUPS[g]],
                    long_series="ta_long_series" in groups)


WORKLOADS = {
    "ta": _workload("ta", ["ta_chains", "ta_long_series"]),
    "select_dedup": _workload("select_dedup", ["iterative_select", "corpus_dedup"]),
    **{g: _workload(g, [g]) for g in GROUPS},
}
