"""r11/r12-PREPARED queries (queries package): full driver-style compare
pinned locally one-or-two rounds before registration — the standing
recipe (kcenter/pack in r8→r9, compression/KS/match in r9→r10) that has
made every prepared registration green first-try."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from indicators_spark.queries import QUERIES
from indicators_spark.queries.similarity import KC_CARRY_K
from indicators_spark.testing import compare_frames, duck_connect

from conftest import SF_SMOKE


def test_kcenter_carry_matches_oracle(spark):
    """The carry-form trajectory at k=10 hash-matches the unrolled-CTE
    oracle — the same compare the driver will run, on the dispatch arm
    the registered k=6 query never exercises."""
    got = QUERIES["similarity_kcenter_carry"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["similarity_kcenter_carry"].sql).fetchdf()
    res = compare_frames("similarity_kcenter_carry", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows == KC_CARRY_K


def test_kcenter_carry_runs_the_carry_arm(spark):
    """k=10 with carry_min=True must really run the carry path AND be
    what the auto-dispatch would pick at that k (KCENTER_CARRY_K = 8) —
    the registered row is evidence for the defaulting caller's arm."""
    from indicators_spark.functions.similarity import KCENTER_CARRY_K
    from indicators_spark.queries._base import _emb
    from indicators_spark.functions.similarity import kcenter_select

    assert KC_CARRY_K > KCENTER_CARRY_K
    auto = sorted(
        tuple(r)
        for r in kcenter_select(_emb(spark, SF_SMOKE), k=KC_CARRY_K).collect()
    )
    forced = sorted(
        tuple(r) for r in QUERIES["similarity_kcenter_carry"].spark(spark, SF_SMOKE).collect()
    )
    assert auto == forced


def test_psi_drift_matches_oracle(spark):
    got = QUERIES["stats_psi_drift"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["stats_psi_drift"].sql).fetchdf()
    res = compare_frames("stats_psi_drift", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_psi_drift_matches_bruteforce(spark):
    """PSI equals a pure-Python replay of the same conventions
    (pool-decile bands with 4dp-quantized linearly-interpolated edges,
    Laplace-smoothed proportions, pool includes the group) on a small
    hand-built frame — a third engine-independent check."""
    import numpy as np

    from indicators_spark.functions.drift import psi_drift_by_group

    rows = [("a", float(v)) for v in range(1, 41)] + [
        ("b", float(v)) for v in [1, 1, 2, 2, 3, 100, 200, 300]
    ]
    df = spark.createDataFrame(rows, "src string, x double")
    bins = 4
    got = {
        r["src"]: (r["n"], r["psi"], r["drifted"])
        for r in psi_drift_by_group(df, "x", "src", bins=bins).collect()
    }

    pool = sorted(v for _, v in rows)
    edges = [
        math.floor(
            float(np.percentile(pool, 100 * i / bins, method="linear")) * 1e4
            + 0.500000001
        )
        / 1e4
        for i in range(1, bins)
    ]

    def bucket(v):
        return sum(1 for e in edges if v > e)

    pool_c: dict[int, int] = {}
    for v in pool:
        pool_c[bucket(v)] = pool_c.get(bucket(v), 0) + 1
    nb, tot = len(pool_c), len(pool)
    for g in ("a", "b"):
        vals = [v for k, v in rows if k == g]
        cg: dict[int, int] = {}
        for v in vals:
            cg[bucket(v)] = cg.get(bucket(v), 0) + 1
        # terms snapped to the 1e-9 integer grid before summing — the
        # operator's order-free-sum convention, replicated exactly
        psi_int = 0
        for bkt, cp in pool_c.items():
            pg = (cg.get(bkt, 0) + 1) / (len(vals) + nb)
            pp = (cp + 1) / (tot + nb)
            psi_int += math.floor(
                (pg - pp) * math.log(pg / pp) * 1e9 + 0.500000001
            )
        psi = psi_int / 1e9
        want = (
            len(vals),
            math.floor(psi * 1e4 + 0.500000001) / 1e4,
            psi > 0.2,
        )
        assert got[g] == want, (g, got[g], want)
    # group 'a' is 5/6 of the pool (self-diluted, stable); 'b' is a
    # genuinely shifted slice — the verdict must separate them
    assert not got["a"][2] and got["b"][2]


def test_psi_drift_null_routing_and_guard(spark):
    from indicators_spark.functions.drift import psi_drift_by_group

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), (None, 2.0), ("b", 2.0), ("b", 3.0)],
        "src string, x double",
    )
    got = {r["src"]: r["n"] for r in psi_drift_by_group(df, "x", "src").collect()}
    assert got == {"a": 1, "b": 2}
    with pytest.raises(ValueError, match="bins must be"):
        psi_drift_by_group(df, "x", "src", bins=1)


def test_bpe_encode_matches_oracle(spark):
    """Train-then-encode hash-matches the single-statement oracle that
    replays BOTH halves (trainer m1..m4 CTEs + per-word merge replay) —
    end-to-end train→encode parity, not just the encoder."""
    got = QUERIES["text_bpe_encode"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["text_bpe_encode"].sql).fetchdf()
    res = compare_frames("text_bpe_encode", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    # the merges must actually compress: some doc's token count drops
    # below its character-token baseline
    con = duck_connect(SF_SMOKE)
    chars = con.execute(
        """SELECT CAST(sum(len(replace(lower(trim(text)), ' ', ''))) AS BIGINT)
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL"""
    ).fetchone()[0]
    con.close()
    total = sum(v for v in want["bpe_tokens"] if v is not None and v == v)
    assert 0 < total < chars


def test_prepped_invariant_under_partitioning(spark):
    """The hash-compared outputs must not depend on partial-agg merge
    order or AQE (the r8 audit-invariance pattern), including the
    trainer's collected merge table inside text_bpe_encode."""
    for fn in (QUERIES["stats_psi_drift"].spark, QUERIES["text_bpe_encode"].spark, QUERIES["similarity_kcenter_carry"].spark):

        def snap():
            return sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())

        base = snap()
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            assert snap() == base, fn.__name__
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_edge_quantizer_magnitude_guard(spark):
    """Regression (r10 review): Spark's LONG-returning floor saturates
    at Long.MAX, so the unguarded floor(x*1e4+0.5)/1e4 idiom turned
    timestamp-scale quantile edges into 9.223e14 while DuckDB kept the
    true value — collapsing every row into one bucket on one engine
    only.  The shared quantizer passes large magnitudes through raw
    (where a 4dp grid is meaningless anyway) and still quantizes the
    small-magnitude domain; the SQL rendering agrees on both branches."""
    import duckdb

    from indicators_spark.functions.sampling import edge_q4_sql, quantize_edge
    from pyspark.sql import functions as F

    big, small = 1.7e18, 123.456789
    row = spark.range(1).select(
        quantize_edge(F.lit(big)).alias("b"),
        quantize_edge(F.lit(small)).alias("s"),
    ).collect()[0]
    assert row["b"] == big                       # raw pass-through
    assert row["s"] == 123.4568                  # 4dp grid
    con = duckdb.connect()
    db, ds = con.execute(
        f"SELECT {edge_q4_sql(repr(big))}, {edge_q4_sql(repr(small))}"
    ).fetchone()
    con.close()
    assert (db, ds) == (row["b"], row["s"])

    # end-to-end: PSI over epoch-nano values must yield a non-degenerate
    # bucketing (pre-fix, every edge saturated identically and all mass
    # landed in one bin, zeroing the statistic for the shifted group)
    from indicators_spark.functions.drift import psi_drift_by_group

    rows = [("a", 1.7e18 + i * 1e12) for i in range(40)] + [
        ("b", 1.7e18 + (35 + i) * 1e12) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "src string, x double")
    got = {r["src"]: r["psi"] for r in psi_drift_by_group(df, "x", "src", bins=4).collect()}
    assert got["b"] > 0.5, got                   # shifted slice visible


# --------------------------------------------------------------------- #
# r10-built preps: prefix-filtered Jaccard + per-group quantile
# normalization (queries/corpus.py) — same one-round-early recipe.
# --------------------------------------------------------------------- #


def test_jaccard_prefix_matches_oracle(spark):
    got = QUERIES["dedup_jaccard_prefix"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["dedup_jaccard_prefix"].sql).fetchdf()
    res = compare_frames("dedup_jaccard_prefix", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows > 0


@pytest.mark.parametrize("threshold", [0.7, 0.8])
def test_jaccard_prefix_equals_plain_operator(spark, threshold):
    """The prefix-filtered operator is DEFINED as identical to the plain
    posting-list operator at the same settings (the AllPairs candidate
    rule loses no pair with J ≥ τ) — pin the full output set equal on
    the corpus slice at two thresholds."""
    from indicators_spark.functions.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )
    from pyspark.sql import functions as F

    from indicators_spark.sources.prices import load_table

    # deterministic slice (limit() may pick different rows per execution)
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(5)) < 3
    )
    plain = sorted(
        (r["ia"], r["ib"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            docs, threshold=threshold, max_df_frac=0.8
        ).collect()
    )
    pref = sorted(
        (r["ia"], r["ib"], round(r["jaccard"], 9))
        for r in jaccard_prefix_pairs(
            docs, threshold=threshold, max_df_frac=0.8
        ).collect()
    )
    assert plain == pref
    assert len(plain) > 0


def test_jaccard_prefix_adversarial_small_frame(spark):
    """Hand-built corner cases: exact duplicates (J = 1, prefix length
    1 must still pair them), single-token docs, a doc whose tokens are
    all pruned as ubiquitous, and df ties broken by token string."""
    from indicators_spark.functions.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),          # exact dup of 1
        (3, "a b c d f"),          # J=4/6 with 1
        (4, "zz"),                 # single rare token
        (5, "zz"),                 # J=1 with 4
        (6, "a"),                  # would survive only via 'a'
        (7, "q r s t u v w x"),    # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.6, 1.0):
        plain = sorted(
            (r["ia"], r["ib"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(df, threshold=t).collect()
        )
        pref = sorted(
            (r["ia"], r["ib"], round(r["jaccard"], 9))
            for r in jaccard_prefix_pairs(df, threshold=t).collect()
        )
        assert plain == pref, (t, plain, pref)
    # the exact-dup pairs must be present at τ=1.0
    ones = {
        (r["ia"], r["ib"])
        for r in jaccard_prefix_pairs(df, threshold=1.0).collect()
    }
    assert (1, 2) in ones and (4, 5) in ones


def test_qnorm_matches_oracle(spark):
    got = QUERIES["quality_quantile_normalize"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["quality_quantile_normalize"].sql).fetchdf()
    res = compare_frames("quality_quantile_normalize", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_qnorm_matches_bruteforce(spark):
    """Pure-Python replay of the integer-interpolation convention on a
    hand frame with a single-row group, heavy value ties, and a group
    equal to the pool's tail."""
    from indicators_spark.functions.sampling import (
        quantile_normalize_by_group,
    )

    rows = (
        [("a", i, float(v)) for i, v in enumerate([1, 1, 2, 3, 5, 8, 13])]
        + [("b", 100 + i, float(v)) for i, v in enumerate([2, 2, 2, 40])]
        + [("c", 200, 7.0)]  # single-row group
    )
    df = spark.createDataFrame(rows, "src string, k long, x double")
    got = {
        r["k"]: (r["_pct"], r["_calib"])
        for r in quantile_normalize_by_group(
            df, value_col="x", group_col="src", key_col="k"
        ).collect()
    }
    pool = sorted((v, k) for _, k, v in rows)
    pv = [v for v, _ in pool]
    ntot = len(pool)
    per_group: dict[str, list[tuple[float, int]]] = {}
    for g, k, v in rows:
        per_group.setdefault(g, []).append((v, k))
    want = {}
    for g, members in per_group.items():
        members.sort()
        n = len(members)
        for r0, (v, k) in enumerate(members):  # r0 = r − 1
            if n > 1:
                pos = r0 * (ntot - 1)
                idx, rem = divmod(pos, n - 1)
                pct = r0 / (n - 1)
                frac = rem / (n - 1)
            else:
                idx, rem, pct, frac = 0, 0, 0.0, 0.0
            vlo = pv[idx]
            vhi = pv[idx + 1] if idx + 1 < ntot else vlo
            want[k] = (pct, vlo + (vhi - vlo) * frac)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=1e-12), k
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-12), k


def test_qnorm_partition_invariant(spark):
    """The kept rows and values must not depend on the input's physical
    partitioning (the content-hash/rank determinism contract every
    sampling operator carries)."""
    from indicators_spark.functions.sampling import (
        quantile_normalize_by_group,
    )
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(
        tuple(r)
        for r in quantile_normalize_by_group(
            docs, "n_chars", "source", "doc_id"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in quantile_normalize_by_group(
            docs.repartition(17, "source"), "n_chars", "source", "doc_id"
        ).collect()
    )
    assert a == b


def test_decon_neardup_matches_oracle(spark):
    got = QUERIES["decontaminate_neardup"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["decontaminate_neardup"].sql).fetchdf()
    res = compare_frames("decontaminate_neardup", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_jaccard_join_prefix_matches_bruteforce(spark):
    """R–S prefix join equals an all-pairs cross-side Jaccard computed
    in plain Python on a hand frame with exact dups, partial overlaps,
    a doc below threshold against everything, and an id present on
    BOTH sides (allowed to pair with itself)."""
    from indicators_spark.functions.dedup import jaccard_join_prefix

    L = [
        (1, "a b c d e"),
        (2, "p q r s"),
        (3, "x y"),
        (9, "m n o"),
    ]
    R = [
        (10, "a b c d e"),   # exact dup of 1
        (11, "a b c d f"),   # 4/6 with 1
        (12, "x y"),         # exact dup of 3
        (9, "m n o"),        # same id both sides
        (13, "zz"),          # matches nothing
    ]
    dl = spark.createDataFrame(L, "doc_id long, text string")
    dr = spark.createDataFrame(R, "doc_id long, text string")
    for t in (0.5, 0.7, 1.0):
        got = sorted(
            (r["ia"], r["ib"], round(r["jaccard"], 9))
            for r in jaccard_join_prefix(dl, dr, threshold=t).collect()
        )
        want = []
        for il, tl in L:
            sl = set(tl.split())
            for ir, tr in R:
                sr = set(tr.split())
                j = len(sl & sr) / len(sl | sr)
                if j >= t:
                    want.append((il, ir, round(j, 9)))
        assert got == sorted(want), (t, got, sorted(want))
    # the same-id row pairs with itself at τ=1.0
    ones = {
        (r["ia"], r["ib"])
        for r in jaccard_join_prefix(dl, dr, threshold=1.0).collect()
    }
    assert (9, 9) in ones


def test_median_selection_matches_oracle(spark):
    got = QUERIES["analytic_median_selection"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["analytic_median_selection"].sql).fetchdf()
    res = compare_frames("analytic_median_selection", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows == 1


def test_group_median_selection_matches_oracle(spark):
    got = QUERIES["analytic_group_median_selection"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["analytic_group_median_selection"].sql).fetchdf()
    res = compare_frames(
        "analytic_group_median_selection", got.toPandas(), want
    )
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows == 3  # A/N/R return flags


def test_robust_scale_matches_oracle(spark):
    got = QUERIES["analytic_robust_scale"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["analytic_robust_scale"].sql).fetchdf()
    res = compare_frames("analytic_robust_scale", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_robust_scale_matches_bruteforce_and_zero_mad(spark):
    """Python replay of the lower-median/MAD convention, including a
    group where >half the rows share one value (MAD = 0 → every score
    NULL, the ÷0→NULL policy)."""
    import math

    from indicators_spark.functions.sampling import (
        MAD_SIGMA,
        robust_scale_by_group,
    )

    rows = (
        [("a", i, float(v)) for i, v in enumerate([1, 2, 3, 4, 100])]
        + [("z", 50 + i, 7.0) for i in range(4)]  # constant → MAD 0
        + [("z", 60, 9.0)]
    )
    df = spark.createDataFrame(rows, "g string, k long, x double")
    got = {
        r["k"]: (r["_med"], r["_mad"], r["_rz"])
        for r in robust_scale_by_group(df, "x", "g", "k").collect()
    }
    for g in ("a", "z"):
        vs = sorted(v for gg, _, v in rows if gg == g)
        n = len(vs)
        med = vs[(n + 1) // 2 - 1]
        ads = sorted(abs(v - med) for v in vs)
        mad = ads[(n + 1) // 2 - 1]
        for gg, k, v in rows:
            if gg != g:
                continue
            want_rz = (
                None if mad == 0.0 else (v - med) / (MAD_SIGMA * mad)
            )
            assert got[k][0] == med and got[k][1] == mad, (k, got[k])
            if want_rz is None:
                assert got[k][2] is None, k
            else:
                assert math.isclose(got[k][2], want_rz, rel_tol=1e-12), k
