"""Unit + property tests for the round-5 extension operators:
binary quantization / Hamming ANN, Matryoshka distortion, token-set
containment, bloom-prefiltered semi join, Z-order keys, and the
two-pass distributed weighted quantiles."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from indicators_spark.functions import dedup, joins, similarity
from indicators_spark.scale import weighted_quantiles, zorder_key


# --------------------------------------------------------------------- #
# binary quantization + hamming
# --------------------------------------------------------------------- #


def _py_code(vec, word_bits=32):
    words = []
    for w in range((len(vec) + word_bits - 1) // word_bits):
        acc = 0
        for j in range(word_bits):
            i = w * word_bits + j
            if i >= len(vec):
                break
            if vec[i] is not None and vec[i] >= 0:
                acc |= 1 << j
        words.append(acc)
    return words


def test_binary_quantize_matches_python(spark):
    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)])
        for i in range(20)
    ]
    # edge rows: exact zeros (>= 0 -> bit set), a NULL element, a NULL vec
    rows.append(Row(vec_id=100, embedding=[0.0] * 64))
    v = [rng.uniform(-1, 1) for _ in range(64)]
    v[5] = None
    rows.append(Row(vec_id=101, embedding=v))
    rows.append(Row(vec_id=102, embedding=None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["code_0"], r["code_1"])
        for r in similarity.binary_quantize(df, dim=64).collect()
    }
    for r in rows:
        if r.embedding is None:
            assert got[r.vec_id] == (None, None)
        else:
            assert list(got[r.vec_id]) == _py_code(r.embedding), r.vec_id


def test_knn_hamming_matches_bruteforce(spark):
    rng = random.Random(13)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 4)
    got = similarity.knn_hamming(df, q, k=3, dim=64).collect()

    codes = {r.vec_id: _py_code(r.embedding) for r in rows}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    for qid in range(4):
        cand = sorted(
            ((ham(codes[qid], codes[n]), n) for n in codes if n != qid)
        )[:3]
        mine = sorted(
            (r["hamming"], r["nid"]) for r in got if r["qid"] == qid
        )
        assert mine == cand, qid


def test_matryoshka_distortion_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(30, 64))
    rows = [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["prefix_dim"]: r
        for r in similarity.matryoshka_distortion(df, dims=(8, 16)).collect()
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for m in (8, 16):
        errs = [
            cos(vecs[i][:m], vecs[i + 1][:m]) - cos(vecs[i], vecs[i + 1])
            for i in range(29)
        ]
        assert got[m]["n_pairs"] == 29
        assert got[m]["mae"] == pytest.approx(
            sum(abs(e) for e in errs) / len(errs), rel=1e-9
        )
        assert got[m]["rmse"] == pytest.approx(
            math.sqrt(sum(e * e for e in errs) / len(errs)), rel=1e-9
        )


# --------------------------------------------------------------------- #
# containment
# --------------------------------------------------------------------- #


def test_containment_pairs_matches_bruteforce(spark):
    docs = [
        (1, "a b c d e f g h"),          # superset of 2
        (2, "a b c d e"),                # 5/5 contained in 1
        (3, "x y z w"),                  # disjoint
        (4, "a b x y z w q r s t u v"),  # contains 3 (4/4) but big
        (5, "a b c"),                    # 3/3 inside 1 and mostly inside 2
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["ia"], r["ib"]): (r["cont_a"], r["cont_b"])
        for r in dedup.containment_pairs(
            df, threshold=0.9, max_df_frac=None
        ).collect()
    }

    toks = {i: set(t.split()) for i, t in docs}
    want = {}
    for a in toks:
        for b in toks:
            if a >= b:
                continue
            inter = len(toks[a] & toks[b])
            if inter == 0:
                continue
            ca, cb = inter / len(toks[a]), inter / len(toks[b])
            if max(ca, cb) >= 0.9:
                want[(a, b)] = (ca, cb)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0])
        assert got[k][1] == pytest.approx(want[k][1])


# --------------------------------------------------------------------- #
# bloom semi join
# --------------------------------------------------------------------- #


@pytest.mark.parametrize("m_bits", [1 << 6, 1 << 14])
def test_bloom_semi_join_equals_exact(spark, m_bits):
    # tiny m (64 bits for ~60 keys) forces heavy false-positive traffic:
    # the exact post-join must still yield identical results
    rng = random.Random(3)
    left = spark.createDataFrame(
        [(rng.randrange(200) if rng.random() > 0.05 else None, i)
         for i in range(500)],
        "k long, payload long",
    )
    right = spark.createDataFrame(
        [(rng.randrange(120) if rng.random() > 0.05 else None,)
         for _ in range(60)],
        "k long",
    )
    got = sorted(
        (r["k"], r["payload"])
        for r in joins.bloom_semi_join(left, right, "k", m_bits=m_bits).collect()
    )
    want = sorted(
        (r["k"], r["payload"])
        for r in left.join(
            right.select("k").distinct(), "k", "left_semi"
        ).collect()
    )
    assert got == want


def test_bloom_semi_join_empty_right(spark):
    left = spark.createDataFrame([(1, 1), (2, 2)], "k long, payload long")
    right = spark.createDataFrame([], "k long")
    assert joins.bloom_semi_join(left, right, "k").count() == 0


# --------------------------------------------------------------------- #
# z-order key
# --------------------------------------------------------------------- #


def _py_morton(x, y, bits=8):
    z = 0
    for j in range(bits):
        z |= ((x >> j) & 1) << (2 * j)
        z |= ((y >> j) & 1) << (2 * j + 1)
    return z


def test_zorder_key_matches_python_and_is_bijective(spark):
    pts = [(x, y) for x in (0, 1, 5, 37, 128, 255) for y in (0, 2, 9, 200, 255)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _py_morton(x, y)
    assert len(set(got.values())) == len(pts)  # injective on the grid
    # 9 dims x 8 bits = 72 > 63: shiftleft would wrap mod 64 and collide
    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_key([F.col("x")] * 9, bits=8)


# --------------------------------------------------------------------- #
# weighted quantiles
# --------------------------------------------------------------------- #


def _py_weighted_q(pairs, q):
    """Smallest v with cumulative weight >= q * total (sorted by value)."""
    pairs = sorted(pairs)
    tot = sum(w for _, w in pairs)
    run = 0.0
    for v, w in pairs:
        run += w
        if run >= q * tot:
            return v
    return pairs[-1][0]


@pytest.mark.parametrize("bucket_scale", [1.0, 1000.0])
def test_weighted_quantiles_matches_python(spark, bucket_scale):
    # bucket_scale=1000 collapses everything into one histogram bucket —
    # the resolve pass then does all the work; both routes must agree
    rng = random.Random(11)
    rows = []
    for g in ("a", "b", "c"):
        for _ in range(200):
            v = round(rng.uniform(0, 50), 2)
            rows.append((g, v, float(rng.randrange(1, 10))))
    # value ties with heavy weight to exercise the tie path
    rows += [("a", 25.0, 40.0)] * 5
    df = spark.createDataFrame(rows, "g string, v double, w double")
    got = {
        r["g"]: r
        for r in weighted_quantiles(
            df,
            group="g",
            value="v",
            weight="w",
            qs=(0.25, 0.5, 0.75),
            bucket=F.floor(F.col("_v") / bucket_scale),
        ).collect()
    }
    by_g = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).append((v, w))
    for g, pairs in by_g.items():
        for q in (0.25, 0.5, 0.75):
            assert got[g][f"wq{int(q * 100)}"] == pytest.approx(
                _py_weighted_q(pairs, q)
            ), (g, q)


def test_weighted_quantiles_null_exclusion(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", None, 5.0), ("a", 3.0, None), ("a", 2.0, 1.0)],
        "g string, v double, w double",
    )
    out = weighted_quantiles(df, "g", "v", "w", qs=(0.5,)).collect()
    assert out[0]["wq50"] == 1.0  # only (1.0,1) and (2.0,1) participate
