"""Seeded input generation for the benchmark.

Two kinds of input, both written as parquet inside the checkout
(generation is never timed):

* ``tables(root, sf)``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the query catalog reads, with the
  schemas and value distributions of the catalog's test fixtures
  (FIXTURES.md F2).  The tables come from one fixed seed, so every
  benchmark seed sees the same tables and the DuckDB oracle results over
  them can be cached once per scale.
* ``long_series(root, seed, rows)``: one symbol-less OHLCV series from
  the benchmark seed, strictly increasing timestamps, ``seq`` tie-breaker;
  a run writes it to its scratch directory and removes it at the end.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_VOCAB = (
    "the a data spark query table row column key value join group agg sort "
    "window filter scan hash merge stream batch vector part order customer "
    "line big small fast slow"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DAY_US = 86_400 * 1_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _dates(rng, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = _epoch_us(lo) // _DAY_US, _epoch_us(hi) // _DAY_US
    return _ts(rng.integers(lo_d, hi_d + 1, n) * _DAY_US)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    tmp = f"{path}.tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # a near duplicate of an earlier document, marked like the
            # fixtures' injected duplicates
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB[:30], k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _table_columns(sf: float) -> dict[str, dict]:
    rng = np.random.default_rng(TABLE_SEED)
    n_ev = max(1000, int(1_000_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))

    gaps = np.maximum(1, rng.exponential(259e6, n_ev).astype(np.int64))
    events = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_epoch_us("2024-01-01") + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    lineitem = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
    }
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }
    customer = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }
    supplier = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    adjectives = "red blue green large small hot cold metal".split()
    nouns = "ring bolt plate nut gear pipe valve spring".split()
    part = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(adjectives, n_part), rng.choice(nouns, n_part)
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }
    nation = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    region = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    return {
        "events": events,
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "nation": nation,
        "region": region,
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def tables(root: str, sf: float) -> str:
    """Directory holding every catalog table at scale ``sf`` (generated
    on first use)."""
    out = os.path.join(root, f"tables-sf{sf:g}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, cols in _table_columns(sf).items():
        _write(os.path.join(out, f"{name}.parquet"), cols)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def long_series(root: str, seed: int, rows: int) -> str:
    """Path of a symbol-less OHLCV parquet file of ``rows`` one-minute
    bars drawn from ``seed`` (a random walk quoted to the cent)."""
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"long-seed{seed}-rows{rows}.parquet")
    rng = np.random.default_rng([seed, rows])
    close = np.round(100.0 * np.exp(np.cumsum(rng.normal(0.0, 0.002, rows))), 2)
    close = np.maximum(close, 0.01)
    opn = np.concatenate([[close[0]], close[:-1]])
    spread = 1.0 + rng.uniform(0.0, 0.01, rows)
    _write(path, {
        "timestamp": pa.array(
            (_epoch_us("2015-01-01") + np.arange(rows, dtype=np.int64) * 60_000_000)
            .astype("datetime64[us]"),
            type=pa.timestamp("us", tz="UTC"),
        ),
        "seq": np.arange(rows, dtype=np.int64),
        "open": opn,
        "high": np.round(np.maximum(opn, close) * spread, 4),
        "low": np.round(np.minimum(opn, close) / spread, 4),
        "close": close,
        "volume": rng.integers(100, 10_000, rows).astype(np.float64),
    })
    return path
