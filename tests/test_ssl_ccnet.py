"""Tests for SSL-prototypes pruning (Sorscher et al. 2022) and CCNet
perplexity buckets (Wenzek et al. 2020)."""

from __future__ import annotations

from indicators_spark.functions import similarity
from indicators_spark.queries import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def _two_cluster_df(spark):
    # vec_id 0/1 seed the two true centers (init = lowest-k ids), the
    # rest sit strictly around them; per cluster one point is nearest
    # its centroid mean (the "prototype").
    a = [(0, [0.0, 0.0]), (2, [0.0, 1.0]), (4, [1.0, 0.0]), (6, [2.0, 0.0])]
    b = [(1, [10.0, 10.0]), (3, [10.0, 11.0]), (5, [11.0, 10.0]), (7, [12.0, 10.0])]
    return spark.createDataFrame(
        a + b, "vec_id long, embedding array<float>"
    )


def test_ssl_prototypes_prunes_most_prototypical(spark):
    out = similarity.ssl_prototypes(
        _two_cluster_df(spark), k=2, iters=2, prune_frac=0.25
    ).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    assert len(by_cluster) == 2
    clusters = {tuple(sorted(r.vec_id for r in v)) for v in by_cluster.values()}
    assert clusters == {(0, 2, 4, 6), (1, 3, 5, 7)}
    for members in by_cluster.values():
        kept = [r for r in members if r.keep]
        dropped = [r for r in members if not r.keep]
        # 0.25-quantile of 4 distances falls between the 1st and 2nd
        # order statistics: exactly the most-prototypical point drops
        assert len(dropped) == 1 and len(kept) == 3
        assert dropped[0].sq_dist <= min(r.sq_dist for r in kept)


def test_ssl_prototypes_dist_matches_assignment(spark):
    # emit="dist" carries the same argmin the plain assign produces
    df = _two_cluster_df(spark)
    plain = {
        r.vec_id: r.cluster
        for r in similarity.kmeans_lloyd(df, k=2, iters=2).collect()
    }
    with_d = {
        r.vec_id: r.cluster
        for r in similarity.kmeans_lloyd(df, k=2, iters=2, emit="dist").collect()
    }
    assert plain == with_d


def test_ccnet_buckets_are_perplexity_ordered_per_source(spark):
    rows = QUERIES["filter_ccnet_buckets"].spark(spark, SF_SMOKE).collect()
    assert rows
    by_src: dict[str, dict[str, list[float]]] = {}
    for r in rows:
        by_src.setdefault(r.source, {}).setdefault(r.bucket, []).append(
            r.cross_entropy
        )
    for src, buckets in by_src.items():
        # tertiles: every bucket non-empty and ordered head<=middle<=tail
        assert set(buckets) == {"head", "middle", "tail"}, (src, set(buckets))
        assert max(buckets["head"]) <= min(buckets["middle"])
        assert max(buckets["middle"]) <= min(buckets["tail"])
        n = sum(len(v) for v in buckets.values())
        # quantile cut: no bucket grossly over/under a tertile
        for v in buckets.values():
            assert n / 3 - 2 <= len(v) <= n / 3 + 2, (src, n, len(v))


def test_ssl_ccnet_plans(spark):
    from indicators_spark.plans import plan_string

    ssl = plan_string(QUERIES["filter_ssl_prototypes"].spark(spark, SF_SMOKE))
    # cutoffs come back via broadcast; no per-cluster sort/window, no
    # single-partition stage anywhere
    assert "BroadcastHashJoin" in ssl, ssl
    assert "Window" not in ssl and "Exchange SinglePartition" not in ssl, ssl

    ccn = plan_string(QUERIES["filter_ccnet_buckets"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in ccn, ccn
    # no ntile/window anywhere; the only SinglePartition stages are the
    # inherited lm_perplexity scalar vocab counts (1 row after partials).
    # The LM join is persisted, so at RUNTIME that subtree executes once;
    # the plan STRING still prints the cached subtree under each branch
    # reference, hence <= 4 textual occurrences (2 per print).
    assert "Window" not in ccn, ccn
    assert ccn.count("Exchange SinglePartition") <= 4, ccn


def test_ivf_recall_audit_bounds(spark):
    rows = QUERIES["similarity_ivf_recall"].spark(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hit <= 5
        assert abs(r.recall - r.n_hit / 5.0) < 1e-9
    # nprobe=4/16 on smooth synthetic embeddings should find most
    # true neighbors — the audit would catch a broken assignment
    assert sum(r.n_hit for r in rows) >= 30


def test_mmr_diversifies_vs_plain_topk(spark):
    """MMR's defining property: a redundant near-duplicate of the top
    hit is displaced by a more diverse candidate."""
    from pyspark.sql import functions as F

    from indicators_spark.functions import similarity

    rows = [
        (0, [1.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.14, 0.0]),      # best hit
        (2, [0.985, 0.17, 0.0]),     # near-clone of 1 (redundant)
        (3, [0.8, 0.0, 0.6]),        # diverse, decent relevance
        (4, [0.75, 0.66, 0.0]),      # diverse other direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.mmr_rerank(
        df,
        df.filter(F.col("vec_id") == 0),
        k=3,
        n_candidates=4,
        lam=0.5,
    ).collect()
    order = [r.nid for r in sorted(out, key=lambda r: r.mmr_rank)]
    assert order[0] == 1            # rank 1 = plain relevance
    assert order[1] != 2            # the clone is NOT picked second
    assert 2 not in order[:2]
    # ranks are 1..k once per query
    assert sorted(r.mmr_rank for r in out) == [1, 2, 3]


def test_mmr_rank1_equals_bruteforce_top1(spark):
    from pyspark.sql import functions as F

    from indicators_spark.functions import similarity
    from indicators_spark.queries._base import _emb

    emb = _emb(spark, SF_SMOKE)
    q = emb.filter(F.col("vec_id") < 10)
    top1 = {
        r.qid: r.nid
        for r in similarity.knn_bruteforce(emb, q, k=1).collect()
    }
    mmr1 = {
        r.qid: r.nid
        for r in similarity.mmr_rerank(emb, q, k=3).collect()
        if r.mmr_rank == 1
    }
    assert mmr1 == top1


def test_mmr_lambda_one_equals_plain_topk(spark):
    # λ=1 removes the diversity term: MMR order must equal relevance order
    from pyspark.sql import functions as F

    from indicators_spark.functions import similarity
    from indicators_spark.queries._base import _emb

    emb = _emb(spark, SF_SMOKE)
    q = emb.filter(F.col("vec_id") < 5)
    plain = {
        (r.qid, r.rank): r.nid
        for r in similarity.knn_bruteforce(emb, q, k=4).collect()
    }
    mmr = {
        (r.qid, r.mmr_rank): r.nid
        for r in similarity.mmr_rerank(
            emb, q, k=4, n_candidates=8, lam=1.0
        ).collect()
    }
    assert mmr == plain


def test_mmr_grouped_bit_equals_relational(spark):
    from pyspark.sql import functions as F

    from indicators_spark.functions import similarity
    from indicators_spark.queries._base import _emb

    emb = _emb(spark, SF_SMOKE)
    q = emb.filter(F.col("vec_id") < 10)
    rel = {
        (r.qid, r.mmr_rank): (r.nid, r.score)
        for r in similarity.mmr_rerank(emb, q, k=5, n_candidates=10).collect()
    }
    grp = {
        (r.qid, r.mmr_rank): (r.nid, r.score)
        for r in similarity.mmr_rerank_grouped(
            emb, q, k=5, n_candidates=10
        ).collect()
    }
    assert rel == grp and len(rel) == 50


def test_mmr_grouped_survives_zero_norm_candidate(spark):
    from pyspark.sql import functions as F

    from indicators_spark.functions import similarity

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),   # zero-norm: excluded, never crashes the job
        (3, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.mmr_rerank_grouped(
        df, df.filter(F.col("vec_id") == 0), k=2, n_candidates=4
    ).collect()
    picked = {r.nid for r in out}
    assert 2 not in picked and len(out) == 2
