"""Shared test fixtures: one SparkSession per test session, tiny OHLCV frames."""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

import os

SF_SMOKE = "/root/testdata/sf0.001"
#: Override to sweep the oracle suite at another scale, e.g.
#:   SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.001 pytest tests/test_oracle_parity.py
#: (the sf0.001 sweep catches small-group estimator/guard fragility the
#: default scale can round away — see the skewness and rolling_corr fixes).
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("indicators_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()
    # stop() alone can leave the py4j gateway (and its non-daemon JVM
    # threads) alive, hanging pytest after the green summary — shut the
    # gateway down explicitly so the process exits.
    try:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    except Exception:
        pass


@pytest.fixture
def selection_paths(monkeypatch):
    """Iterate it to run a selection test's body on both engine paths:
    first as configured (inputs this small take the driver value table),
    then through the refinement loop and the in-Spark residue, with the
    speculative and driver tables switched off."""
    import indicators_spark.scale as scale

    def paths():
        yield "value_table"
        monkeypatch.setattr(scale, "SPECULATIVE_TABLE_MAX_BYTES", -1)
        monkeypatch.setattr(scale, "DRIVER_TABLE_MAX_ROWS", 0)
        yield "refinement"

    return paths()


def _ts(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)


@pytest.fixture(scope="session")
def ohlcv(spark):
    """Tiny deterministic 2-symbol OHLCV frame with interleaved timestamps
    and a couple of nulls (exercises min-samples gating)."""
    rows = []
    vals_a = [10.0, 11.0, 9.5, None, 12.0, 12.5, 11.8, 13.0, 12.2, 14.0]
    vals_b = [100.0, 98.0, 99.5, 101.0, 103.0, 102.0, None, 104.0, 105.5, 103.5]
    for i in range(10):
        for sym, vals, vol in (("A", vals_a, 10.0), ("B", vals_b, 20.0)):
            c = vals[i]
            rows.append(
                (
                    sym,
                    _ts(2 * i + (0 if sym == "A" else 1)),
                    i,
                    c,
                    None if c is None else c * 1.02,
                    None if c is None else c * 0.98,
                    c,
                    vol + i,
                )
            )
    return spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, seq long, open double, "
        "high double, low double, close double, volume double",
    )


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (VERDICT r13 #8): the 274-query oracle-parity
    battery (tests/test_oracle_parity.py) takes ~15-25 min alone and
    pushed the whole-suite run past the driver's pytest budget, so a
    plain `pytest tests/` run skips it and completes in the fast tier.
    The battery still runs — at full strength — whenever it is targeted
    explicitly (`pytest tests/test_oracle_parity.py`, the /verify
    recipe) or `SPARK_GRAFT_PARITY=1` is set.  The per-round focused
    parity files (test_oracle_parity_r*.py) stay in the fast tier."""
    import os

    if os.environ.get("SPARK_GRAFT_PARITY"):
        return
    if any("test_oracle_parity.py" in a for a in config.args):
        return
    skip = pytest.mark.skip(
        reason="oracle battery tier: run tests/test_oracle_parity.py "
        "directly or set SPARK_GRAFT_PARITY=1"
    )
    for item in items:
        if item.fspath.basename == "test_oracle_parity.py":
            item.add_marker(skip)
