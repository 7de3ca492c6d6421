"""Regression tests for the round-6 edge-case fixes (ADVICE r6: the new
behaviors were untested).  Each test pins one fixed failure mode:

1. ``knn_hamming`` drops NULL-embedding rows from corpus AND query sides
   (a NULL code would sort first and displace rank-1 for every query).
2. ``binary_code_words`` treats short/empty vectors as 0-bits via
   ``F.get`` (``element_at`` raises INVALID_ARRAY_INDEX under ANSI).
3. ``substring_dedup_clean`` and its DuckDB oracle both map a NULL-text
   doc to ``(NULL, 0)`` (run on an in-memory fixture WITH a NULL row).
4. ``cap_per_key(tiebreak=...)`` is repartition-stable under duplicate
   keys, and per-column digests kill separator-injection collisions.
5. ``weighted_quantiles`` never drops a quantile at a bucket boundary:
   the lag(_cum) ``_before`` closes the float gap between buckets, and
   the ``_bmax`` coalesce closes the within-bucket ulp gap.
"""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from indicators_spark.functions import dedup, sampling, similarity
from indicators_spark.scale import weighted_quantiles


# --------------------------------------------------------------------- #
# 1. knn_hamming NULL-embedding contract
# --------------------------------------------------------------------- #


def test_knn_hamming_null_rows_dropped_both_sides(spark):
    rng = random.Random(99)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)])
        for i in range(20)
    ]
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dirty = clean.unionByName(
        spark.createDataFrame(
            [Row(vec_id=500, embedding=None)],
            "vec_id long, embedding array<double>",
        )
    )
    q_clean = clean.filter(F.col("vec_id") < 3)
    q_dirty = dirty.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 500))

    want = sorted(
        map(tuple, similarity.knn_hamming(clean, q_clean, k=4, dim=64).collect())
    )
    got = sorted(
        map(tuple, similarity.knn_hamming(dirty, q_dirty, k=4, dim=64).collect())
    )
    # NULL corpus row displaces nothing; NULL query row produces nothing
    assert got == want
    assert all(r[0] != 500 and r[1] != 500 for r in got)


# --------------------------------------------------------------------- #
# 2. binary_code_words short / empty vectors
# --------------------------------------------------------------------- #


def _py_code(vec, dim, word_bits=32):
    """Reference model: positions beyond len(vec) (and NULL elements)
    contribute a 0 bit; only a NULL *vector* yields NULL words."""
    words = []
    for w in range((dim + word_bits - 1) // word_bits):
        acc = 0
        for j in range(word_bits):
            i = w * word_bits + j
            if i >= dim:
                break
            if i < len(vec) and vec[i] is not None and vec[i] >= 0:
                acc |= 1 << j
        words.append(acc)
    return words


def test_binary_code_words_short_and_empty_vectors(spark):
    rng = random.Random(3)
    short = [rng.uniform(-1, 1) for _ in range(61)]  # dim-3 vector
    rows = [
        Row(vec_id=1, embedding=short),
        Row(vec_id=2, embedding=[]),
        Row(vec_id=3, embedding=[0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: [r["code_0"], r["code_1"]]
        for r in similarity.binary_quantize(df, dim=64).collect()
    }
    for r in rows:
        assert got[r.vec_id] == _py_code(r.embedding, dim=64), r.vec_id


# --------------------------------------------------------------------- #
# 3. substring_dedup_clean NULL text — Spark AND oracle yield (NULL, 0)
# --------------------------------------------------------------------- #


def test_substring_clean_null_text_spark_and_oracle(spark):
    from indicators_spark.queries.corpus import _CLEAN_SQL, SUBSTR_N

    span = " ".join(f"tok{i}" for i in range(SUBSTR_N + 2))
    docs = [
        (1, f"alpha beta {span} gamma delta"),
        (2, f"unrelated words here {span} more tail words"),
        (3, "short unique text with no repeats at all whatsoever"),
        (4, None),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup.substring_dedup_clean(sdf, n=SUBSTR_N).collect()
    }
    assert got[4] == (None, 0)

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text"]).astype(
            {"doc_id": "int64"}
        ),
    )
    oracle = {
        int(d): (c, int(n))
        for d, c, n in con.execute(_CLEAN_SQL).fetchall()
    }
    assert oracle[4] == (None, 0)
    assert got == oracle  # full-fixture parity, not just the NULL row


# --------------------------------------------------------------------- #
# 4. cap_per_key tiebreak: repartition-stable, injection-proof
# --------------------------------------------------------------------- #


def test_cap_per_key_tiebreak_repartition_stable(spark):
    rows = [("g", "dup", f"payload_{i:02d}") for i in range(12)] + [
        ("h", "dup", f"other_{i:02d}") for i in range(6)
    ]
    df = spark.createDataFrame(rows, "grp string, key string, payload string")

    def picked(frame):
        out = sampling.cap_per_key(
            frame, group="grp", key="key", k=3, tiebreak=["payload"]
        )
        return sorted((r["grp"], r["payload"]) for r in out.collect())

    a = picked(df.repartition(1))
    b = picked(df.orderBy(F.desc("payload")).repartition(7))
    assert a == b
    assert len(a) == 6  # 3 per group, total order under duplicate keys


def test_cap_per_key_tiebreak_separator_injection(spark):
    # Under the old concat_ws('\x1f', ...) both rows hashed identically:
    # ('a\x1fb', 'c') and ('a', 'b\x1fc') join to the same string.  The
    # per-column-digest form must distinguish them and pick one winner
    # regardless of partitioning.
    rows = [("g", "dup", "a\x1fb", "c"), ("g", "dup", "a", "b\x1fc")]
    df = spark.createDataFrame(rows, "grp string, key string, t1 string, t2 string")
    digests = df.select(
        F.md5(F.concat(F.md5(F.col("t1")), F.md5(F.col("t2")))).alias("h")
    ).collect()
    assert digests[0]["h"] != digests[1]["h"]

    def winner(frame):
        out = sampling.cap_per_key(
            frame, group="grp", key="key", k=1, tiebreak=["t1", "t2"]
        )
        return [(r["t1"], r["t2"]) for r in out.collect()]

    w1 = winner(df.repartition(1))
    w2 = winner(df.orderBy(F.desc("t1")).repartition(5))
    assert w1 == w2 and len(w1) == 1


# --------------------------------------------------------------------- #
# 5. weighted_quantiles boundary-bucket behavior
# --------------------------------------------------------------------- #


def test_weighted_quantiles_crossing_at_bucket_last_row(spark):
    # bucket floor(v/2): {0:[1], 1:[2,3], 2:[4]}, unit weights.
    # q=0.75 -> target 3.0 == bucket 1's cumulative: the crossing is the
    # boundary bucket's LAST row and must resolve to v=3 (not NULL).
    df = spark.createDataFrame(
        [("g", float(v), 1.0) for v in (1, 2, 3, 4)],
        "grp string, v double, w double",
    )
    out = weighted_quantiles(
        df, "grp", "v", "w", qs=(0.75,), bucket=F.floor(F.col("_v") / 2)
    ).collect()
    assert out[0]["wq75"] == 3.0


def test_weighted_quantiles_q1_float_weights_returns_max(spark):
    # 0.1 weights re-sum differently in histogram vs resolve order; at
    # q=1.0 the target can exceed max(_run) by a ulp — the _bmax coalesce
    # must return the group max, never NULL.
    df = spark.createDataFrame(
        [("g", 10.0 + i, 0.1) for i in range(7)],
        "grp string, v double, w double",
    )
    out = weighted_quantiles(
        df, "grp", "v", "w", qs=(1.0,), bucket=F.lit(0)
    ).collect()
    assert out[0]["wq100"] == 16.0


def test_weighted_quantiles_no_gap_between_buckets(spark):
    # Two buckets with _bw = 0.1 and 0.2: cum = [0.1, 0.30000000000000004]
    # and (cum - bw) = 0.10000000000000003 > prev cum — the old _before
    # opened a dead zone (0.1, 0.10000000000000003] where a target matched
    # NO bucket and the quantile silently vanished.  lag(_cum) closes it.
    bw1, bw2 = 0.1, 0.2
    tot = bw1 + bw2
    gap_lo, gap_hi = bw1, (bw1 + bw2) - bw2
    assert gap_hi > gap_lo, "fixture must exhibit the float gap"
    # find a q whose recomputed target = q*tot lands inside the old gap
    q = None
    t = math.nextafter(gap_lo, 2.0)
    while t <= gap_hi:
        cand = t / tot
        if gap_lo < cand * tot <= gap_hi:
            q = cand
            break
        t = math.nextafter(t, 2.0)
    assert q is not None, "no representable target in the gap"

    df = spark.createDataFrame(
        [("g", 1.0, bw1), ("g", 2.0, bw2)],
        "grp string, v double, w double",
    )
    out = weighted_quantiles(df, "grp", "v", "w", qs=(q,)).collect()
    col = f"wq{int(q * 100)}"
    # W(<=1.0)=0.1 < target, W(<=2.0)=0.3 >= target -> quantile is 2.0
    assert out[0][col] == 2.0


def test_weighted_quantiles_uniform_weights_match_index_model(spark):
    # off-boundary quantiles over uniform float weights across many
    # buckets: every q must resolve (no gap drops) to the exact
    # sorted-definition value  v[ceil(q*n)-1].
    n = 30
    df = spark.createDataFrame(
        [("g", float(v), 0.1) for v in range(n)],
        "grp string, v double, w double",
    )
    qs = (0.13, 0.33, 0.52, 0.77, 0.98)
    out = weighted_quantiles(
        df, "grp", "v", "w", qs=qs, bucket=F.floor(F.col("_v") / 3)
    ).collect()[0]
    for q in qs:
        want = float(math.ceil(q * n) - 1)
        assert out[f"wq{int(q * 100)}"] == want, q
