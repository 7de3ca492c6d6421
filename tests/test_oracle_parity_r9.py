"""r10-PREPARED queries: full driver-style compare pinned locally one
round before registration (the kcenter/pack_token_stream recipe from r8
— tests/test_kcenter.py / test_packing.py — that made both green
first-try in r9)."""

from __future__ import annotations

import pandas as pd

from indicators_spark.queries import QUERIES
from indicators_spark.testing import compare_frames, duck_connect

from conftest import SF_SMOKE


def test_compress_audit_matches_oracle(spark):
    """The compression audit's one-row verdict hash-matches the DuckDB
    expectation at sf0.001 AND the verdicts are all True (the bands sit
    ≥5× from the measured ratios, so a flip means the UDF broke)."""
    got = QUERIES["audit_compression_ratio"].spark(spark, SF_SMOKE)
    row = got.collect()[0]
    assert row["repeat_ok"] and row["hex_ok"] and row["doubled_lt_hex"]
    assert row["n_docs"] > 0

    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["audit_compression_ratio"].sql).fetchdf()
    res = compare_frames("audit_compression_ratio", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)


def test_ks_drift_matches_oracle(spark):
    got = QUERIES["stats_ks_drift"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["stats_ks_drift"].sql).fetchdf()
    res = compare_frames("stats_ks_drift", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)


def test_ks_drift_matches_scipy_convention(spark):
    """D_g equals the classic two-sample KS statistic computed by a
    brute-force pooled-grid evaluation in Python (the ks_2samp
    definition with the pool as the second sample)."""
    rows = [("a", float(v)) for v in [1, 2, 2, 3, 9, 9]] + [
        ("b", float(v)) for v in [5, 6, 7, 8, 9, 10, 11]
    ]
    df = spark.createDataFrame(rows, "src string, x double")
    from indicators_spark.functions.drift import ks_drift_by_group

    got = {
        r["src"]: (r["n"], r["ks_d"])
        for r in ks_drift_by_group(df, "x", "src", threshold=0.3).collect()
    }
    pool = sorted(v for _, v in rows)
    grid = sorted(set(pool))

    def cdf(sample, v):
        return sum(1 for x in sample if x <= v) / len(sample)

    import math

    for g in ("a", "b"):
        s = [v for k, v in rows if k == g]
        d = max(abs(cdf(s, v) - cdf(pool, v)) for v in grid)
        d = math.floor(d * 1e4 + 0.500000001) / 1e4
        assert got[g] == (len(s), d)


def test_match_distribution_matches_oracle(spark):
    """Row-level replay: the KEPT rows (not just their histogram) hash-
    match the SQL rendering of quantile edges → bucket counts → water-
    level rates → md5 hash filter."""
    got = QUERIES["sample_match_distribution"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["sample_match_distribution"].sql).fetchdf()
    res = compare_frames("sample_match_distribution", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_line_selfdedup_matches_oracle(spark):
    got = QUERIES["dedup_lines_within_doc"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["dedup_lines_within_doc"].sql).fetchdf()
    res = compare_frames("dedup_lines_within_doc", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    # the derivation must actually exercise the keep-first rule
    assert any(r for r in want.itertuples() if r.n_removed > 0)


def test_line_selfdedup_keep_first_bruteforce(spark):
    """Keep-first semantics on a hand-built doc: repeats drop, first
    occurrences stay in order, repeated blank lines collapse, NULL text
    routes through, and the global pass's min_df policy demonstrably
    differs (it removes ALL copies)."""
    from indicators_spark.functions.dedup import (
        line_dedup_global,
        line_dedup_within_doc,
    )

    rows = [
        (1, "a\nb\na\nc\nb\na"),
        (2, "x\n\n\nx"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in line_dedup_within_doc(df).collect()
    }
    assert got[1] == ("a\nb\nc", 6, 3)
    assert got[2] == ("x\n", 4, 2)   # blank run collapses to one
    assert got[3] == (None, 0, 0)
    # contrast: the corpus-wide pass at min_df=2 removes EVERY copy of
    # the repeated lines, not just the tails
    g = {
        r["doc_id"]: r["clean_text"]
        for r in line_dedup_global(df, min_df=2).collect()
    }
    assert g[1] == "c"


def test_bpe_merges_match_oracle(spark):
    got = QUERIES["text_bpe_merges"].spark(spark, SF_SMOKE)
    con = duck_connect(SF_SMOKE)
    want: pd.DataFrame = con.execute(QUERIES["text_bpe_merges"].sql).fetchdf()
    res = compare_frames("text_bpe_merges", got.toPandas(), want)
    con.close()
    assert res.ok, str(res)
    assert res.spark_rows == 4


def test_bpe_merges_match_bruteforce(spark):
    """The trajectory equals a pure-Python BPE trainer with the same
    conventions (frequency-weighted vocab, leftmost non-overlapping
    merge, count-desc/pair-asc ties) on the classic low/lower/lowest
    corpus plus an overlap-run stressor."""
    corpus = [
        (1, "low low low lower lowest"),
        (2, "aaa aaa baab"),
        (3, None),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    from indicators_spark.functions.text import bpe_learn_merges

    got = [tuple(r) for r in bpe_learn_merges(df, n_merges=6).collect()]

    wc: dict[tuple[str, ...], int] = {}
    for _, t in corpus:
        if t is None:
            continue
        for w in t.lower().split(" "):
            if w:
                key = tuple(w[:32])
                wc[key] = wc.get(key, 0) + 1
    want = []
    for rank in range(1, 7):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in wc.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        want.append((rank, f"{a} {b}", a + b, c))
        new: dict[tuple[str, ...], int] = {}
        for syms, cnt in wc.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + cnt
        wc = new
    assert got == want
    # driver-looped ⇒ no plan to pin (LocalTableScan, like kcenter);
    # partitioning invariance pinned behaviorally instead
    again = [
        tuple(r)
        for r in bpe_learn_merges(df.repartition(7), n_merges=6).collect()
    ]
    assert again == want


def test_bpe_apply_merges_roundtrip(spark):
    """Encoding with the learned table replays the trainer's merge
    rule exactly: token counts match a pure-Python re-encode, NULL
    routes through, an empty merge list degrades to char counting,
    and malformed merges are rejected eagerly."""
    import pytest

    from indicators_spark.functions.text import (
        bpe_apply_merges,
        bpe_learn_merges,
    )

    df = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "aaa baab"), (3, None)],
        "doc_id long, text string",
    )
    merges = [r["pair"] for r in bpe_learn_merges(df, n_merges=3).collect()]
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_apply_merges(df, merges).collect()
    }

    def encode(word: str, table: list[str]) -> int:
        syms = list(word)
        for pr in table:
            a, b = pr.split(" ")
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    def encode_all(text: str, table: list[str]) -> int:
        return sum(encode(w, table) for w in text.split(" "))

    for doc_id, text in [(1, "low low low lower lowest"), (2, "aaa baab")]:
        want = encode_all(text, merges)
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
    assert got[3] is None
    # no merges → one token per character
    plain = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_apply_merges(df, []).collect()
    }
    assert plain[2] == len("aaabaab")
    # apostrophe symbols flow through the rank dict like any other
    apo = spark.createDataFrame(
        [(1, "don't don't do"), (2, None)], "doc_id long, text string"
    )
    am = [r["pair"] for r in bpe_learn_merges(apo, n_merges=4).collect()]
    assert any("'" in p for p in am)  # apostrophes really flow through
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_apply_merges(apo, am).collect()
    }
    assert got == {1: encode_all("don't don't do", am), 2: None}
    with pytest.raises(ValueError):
        bpe_apply_merges(df, ["a b c"])


def test_ks_drift_null_routing(spark):
    """NULL values and NULL groups are excluded before any counting."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), (None, 2.0), ("b", 2.0)],
        "src string, x double",
    )
    from indicators_spark.functions.drift import ks_drift_by_group

    got = {r["src"]: r["n"] for r in ks_drift_by_group(df, "x", "src").collect()}
    assert got == {"a": 1, "b": 1}
