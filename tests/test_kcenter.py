"""k-center greedy selection (`similarity.kcenter_select`): the greedy
trajectory must replay bit-identically on the DuckDB unrolled-CTE oracle
(the r9 registration pair, pinned locally now), match a brute-force
Python Gonzalez run, and be invariant under partitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from indicators_spark.functions.similarity import kcenter_select
from indicators_spark.queries import QUERIES
from indicators_spark.queries.similarity import KC_K

SF = "/root/testdata/sf0.001"


def test_matches_duckdb_oracle(spark):
    import duckdb

    got = sorted(tuple(r) for r in QUERIES["similarity_kcenter_select"].spark(spark, SF).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(QUERIES["similarity_kcenter_select"].sql).fetchall())
    con.close()
    assert got == want and len(got) == KC_K


def test_matches_bruteforce_gonzalez(spark):
    import random

    rng = random.Random(17)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(4)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows)
    got = [(r["rank"], r["vec_id"], r["radius"])
           for r in kcenter_select(df, k=5, vec_col="embedding").collect()]

    def q4(x):
        import math
        return math.floor(x * 1e4 + 0.500000001) / 1e4

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    vecs = {r.vec_id: r.embedding for r in rows}
    centers = [min(vecs)]
    want = [(1, centers[0], None)]
    for t in range(2, 6):
        best = None
        for i, v in vecs.items():
            q = q4(min(sqd(v, vecs[c]) for c in centers))
            key = (-q, i)
            if best is None or key < best[0]:
                best = (key, i, q)
        centers.append(best[1])
        want.append((t, best[1], best[2]))
    assert got == want
    # radii non-increasing: the coverage guarantee
    radii = [r for _, _, r in got if r is not None]
    assert radii == sorted(radii, reverse=True)


def test_invariant_under_partitioning(spark):
    from indicators_spark.queries._base import _emb

    emb = _emb(spark, SF)
    base = sorted(tuple(r) for r in kcenter_select(emb, k=4).collect())
    rep = sorted(
        tuple(r) for r in kcenter_select(emb.repartition(7), k=4).collect()
    )
    assert base == rep


def test_carry_min_form_is_bit_identical(spark):
    """The r9 carry form (running-min materialized per superstep,
    O(k·n·d) total) must reproduce the literal-chain trajectory
    EXACTLY: min is associative over the same fold-exact distance
    doubles, so the carried min equals the re-evaluated least() chain
    and every (rank, id, radius) row — including duplicate-vector
    exclusion and early stop — is bit-equal."""
    import math

    rows = [
        (i, [math.sin(i * j / 7.0) for j in range(1, 9)]) for i in range(40)
    ]
    # duplicate vectors + a NULL to exercise the exclusion paths
    rows += [(100, rows[3][1]), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for kk in (1, 2, 5, 12, 60):
        a = sorted(
            tuple(r) for r in kcenter_select(df, k=kk, carry_min=False).collect()
        )
        b = sorted(
            tuple(r) for r in kcenter_select(df, k=kk, carry_min=True).collect()
        )
        assert a == b, f"k={kk}"
    # auto dispatch: above KCENTER_CARRY_K both answers already proven equal
    from indicators_spark.functions.similarity import KCENTER_CARRY_K

    auto = sorted(
        tuple(r)
        for r in kcenter_select(df, k=KCENTER_CARRY_K + 2).collect()
    )
    assert auto == sorted(
        tuple(r)
        for r in kcenter_select(
            df, k=KCENTER_CARRY_K + 2, carry_min=False
        ).collect()
    )


def test_guards(spark):
    docs = spark.createDataFrame([Row(vec_id="a", embedding=[1.0])])
    with pytest.raises(TypeError, match="must be integral"):
        kcenter_select(docs)
    frac = spark.createDataFrame([Row(vec_id=1.5, embedding=[1.0])])
    with pytest.raises(TypeError, match="must be integral"):
        kcenter_select(frac)
    num = spark.createDataFrame([Row(vec_id=1, embedding=[1.0])])
    with pytest.raises(ValueError, match="k must be"):
        kcenter_select(num, k=0)


def test_duplicate_vectors_yield_distinct_centers(spark):
    """Regression (r8 review): once the max min-distance hits 0 on a
    corpus with duplicate vectors, the greedy must keep emitting
    DISTINCT ids (selected points leave the candidate pool), never
    re-select center 1."""
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0]),
         Row(vec_id=2, embedding=[1.0, 0.0]),   # duplicate of 1
         Row(vec_id=3, embedding=[0.0, 1.0])]
    )
    got = [(r["rank"], r["vec_id"]) for r in kcenter_select(df, k=3).collect()]
    assert got == [(1, 1), (2, 3), (3, 2)]


def test_k_exceeding_pool_stops_early(spark):
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0]), Row(vec_id=2, embedding=[2.0])]
    )
    got = kcenter_select(df, k=5).collect()
    assert [r["vec_id"] for r in got] == [1, 2]
    assert len(got) == 2


def test_carry_form_one_job_per_step(spark):
    """r13 job-count contract: the carry loop's LAZY checkpoint folds
    each step's state materialization into the argmax action, so a step
    costs the argmax's own jobs only — under AQE that is 2 (the agg's
    shuffle stage materializes as its own job, then the result stage);
    the eager form added a third (the dedicated checkpoint job)."""
    import math

    rows = [
        (i, [math.sin(i * j / 7.0) for j in range(1, 9)]) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)  # isolate loop jobs from scan setup
    tracker = spark.sparkContext.statusTracker()
    k = 10
    before = len(tracker.getJobIdsForGroup(None) or [])
    kcenter_select(df, k=k, carry_min=True)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 2 * k + 1, f"{after - before} jobs for k={k}"
