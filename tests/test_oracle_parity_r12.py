"""Round-12 registrations: the eight queue entries keep their pins in
tests/test_oracle_parity_r10.py (registration changed no code — the
r11 precedent); the one NEW query this round,
``lineitem_rsi_halo_hinted``, gets the driver-style compare here (its
plan shape and plain-form equality are pinned in test_plans_r12.py)."""

from __future__ import annotations

from indicators_spark.queries import QUERIES
from indicators_spark.testing import compare_frames, duck_connect

from conftest import SF_SMOKE


def test_li_rsi_halo_hinted_matches_oracle(spark):
    got = QUERIES["lineitem_rsi_halo_hinted"].spark(spark, SF_SMOKE).toPandas()
    con = duck_connect(SF_SMOKE)
    want = con.execute(QUERIES["lineitem_rsi_halo_hinted"].sql).fetchdf()
    con.close()
    res = compare_frames("lineitem_rsi_halo_hinted", got, want)
    assert res.ok, str(res)
    assert res.spark_rows == 6000


def test_weighted_median_selection_matches_oracle_dual_sf(spark):
    """r13-prep parity: the kernel's weighted median/p90 against the
    pure cumulative-weight order-statistic replay, at both SFs (the
    driver-style dual-SF pin every prep carries before registration)."""

    for sf_dir in (SF_SMOKE, SF_SMOKE.replace("0.001", "0.01")):
        got = QUERIES["analytic_weighted_median_selection"].spark(spark, sf_dir).toPandas()
        con = duck_connect(sf_dir)
        want = con.execute(QUERIES["analytic_weighted_median_selection"].sql).fetchdf()
        con.close()
        res = compare_frames("analytic_weighted_median_selection", got, want)
        assert res.ok, f"{sf_dir}: {res}"


def test_group_weighted_median_matches_oracle_dual_sf(spark):
    """r13-prep parity for the grouped weighted selection."""

    for sf_dir in (SF_SMOKE, SF_SMOKE.replace("0.001", "0.01")):
        got = QUERIES["analytic_group_weighted_median"].spark(spark, sf_dir).toPandas()
        con = duck_connect(sf_dir)
        want = con.execute(QUERIES["analytic_group_weighted_median"].sql).fetchdf()
        con.close()
        res = compare_frames("analytic_group_weighted_median", got, want)
        assert res.ok, f"{sf_dir}: {res}"
        assert res.spark_rows == 3
