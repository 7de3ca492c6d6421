"""Round-12 plan pins: the fluent halo session's catalog-metadata hint
path (``lineitem_rsi_halo_hinted``) and the TZ-independent order-key
expression that backs it."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from indicators_spark.plans import plan_string
from indicators_spark.queries import QUERIES

from conftest import SF_SMOKE


def test_hinted_halo_engages_with_zero_pre_jobs(spark):
    """Building the hinted query plan must run NO Spark job before the
    terminal action: the session decision reads parquet footers on the
    driver (no job) and the hints cover the bounds/count probe — the
    VERDICT r11 #6 contract (zero pre-jobs before the first window
    stage)."""
    from indicators_spark.core import Indicators
    from indicators_spark.scale import parquet_footer_stats
    from indicators_spark.sources.prices import load_table

    # the parquet read itself runs a file-listing job (scan setup every
    # form pays) — load once OUTSIDE the measured window so the assert
    # isolates the halo probe, the contract under test
    li = load_table(spark, SF_SMOKE, "lineitem")
    p = li.select(
        F.col("l_shipdate").alias("timestamp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.col("l_extendedprice").alias("close"),
        F.col("l_quantity").cast("double").alias("volume"),
    )
    n_rows, lo, hi = parquet_footer_stats(
        f"{SF_SMOKE}/lineitem.parquet", "l_shipdate"
    )
    assert lo is not None  # the synthetic data carries footer stats
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    ind = Indicators(
        p,
        order_by=("timestamp", "seq", "close", "volume"),
        halo=True,
        halo_buckets=8,
        halo_depth=64,
        n_rows=n_rows,
        order_bounds=(float(lo), float(hi)),
    )
    ind.rsi(["close"], 14)
    df = ind.collect()
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "halo engagement ran a Spark job"
    # and the plan it built has no single-task window stage
    plan = plan_string(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "_bucket" in plan, plan
    # the registered query builds the same shape
    plan2 = plan_string(QUERIES["lineitem_rsi_halo_hinted"].spark(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in plan2, plan2
    assert "_bucket" in plan2, plan2


def test_order_key_double_tz_independent(spark):
    """`core._order_key_double` must agree with parquet_footer_stats'
    UTC epoch-seconds scale for NTZ and DATE order keys regardless of
    the session timezone (a cast through timestamp would shift dates by
    the session offset)."""
    from indicators_spark.core import _order_key_double

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ'2024-01-02 03:04:05.9' AS ntz,"
        " DATE'2024-01-02' AS d, CAST(42.5 AS DOUBLE) AS x"
    )
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        vals = {}
        for zone in ("UTC", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            row = df.select(
                _order_key_double(df, "ntz").alias("ntz"),
                _order_key_double(df, "d").alias("d"),
                _order_key_double(df, "x").alias("x"),
            ).first()
            vals[zone] = (row["ntz"], row["d"], row["x"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert vals["UTC"] == vals["America/Los_Angeles"]
    ntz, d, x = vals["UTC"]
    epoch = datetime.datetime(1970, 1, 1)
    assert ntz == (datetime.datetime(2024, 1, 2, 3, 4, 5) - epoch).total_seconds()
    assert d == (datetime.datetime(2024, 1, 2) - epoch).total_seconds()
    assert x == 42.5


def test_hinted_halo_matches_plain_form(spark):
    """Values identical to the plain (un-haloed) fluent form at smoke
    scale — the dispatch picks a physical plan, never semantics."""
    from indicators_spark.core import Indicators
    from indicators_spark.sources.prices import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    p = li.select(
        F.col("l_shipdate").alias("timestamp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.col("l_extendedprice").alias("close"),
        F.col("l_quantity").cast("double").alias("volume"),
    )
    from indicators_spark.queries._base import round4

    plain = (
        Indicators(
            p, order_by=("timestamp", "seq", "close", "volume"), halo=False
        )
        .rsi(["close"], 14)
        .collect()
        .select("seq", round4(F.col("close_rsi_14")).alias("close_rsi_14"))
    )
    from collections import Counter

    want = Counter((r["seq"], r["close_rsi_14"]) for r in plain.collect())
    got = Counter(
        (r["seq"], r["close_rsi_14"])
        for r in QUERIES["lineitem_rsi_halo_hinted"].spark(spark, SF_SMOKE).collect()
    )
    assert got == want
