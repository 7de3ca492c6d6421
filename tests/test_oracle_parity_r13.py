"""Round-13 registrations: trained-quantizer IVF (search + recall
audit), the two-epoch index lifecycle, and the grouped weighted tail
(p90+p99 ks-map form) — driver-style compare at both SFs, plus the
structural pins the entries claim (trained centers == kmeans_lloyd's
training; the epoch lifecycle's search output == the single-snapshot
``knn_ivf``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from indicators_spark.testing import compare_frames, duck_connect

from conftest import SF_SMOKE

_R13 = [
    "similarity_knn_ivf_trained",
    "similarity_ivf_recall_trained",
    "similarity_knn_ivf_epochs",
    "analytic_group_weighted_tail",
]


def test_r13_registrations_match_oracle_dual_sf(spark):
    from indicators_spark.queries import QUERIES

    for name in _R13:
        q = QUERIES[name]
        for sf_dir in (SF_SMOKE, SF_SMOKE.replace("0.001", "0.01")):
            got = q.spark(spark, sf_dir).toPandas()
            con = duck_connect(sf_dir)
            want = con.execute(q.sql_text).fetchdf()
            con.close()
            res = compare_frames(name, got, want)
            assert res.ok, f"{name} @ {sf_dir}: {res}"


def test_kmeans_centers_match_lloyd_training(spark):
    """`kmeans_centers` must return EXACTLY the centers `kmeans_lloyd`
    trains (shared `_kmeans_train`): assigning the corpus with the
    returned list reproduces the lloyd assignment bit-for-bit."""
    from indicators_spark.functions import similarity
    from indicators_spark.queries._base import _emb

    emb = _emb(spark, SF_SMOKE)
    cents = similarity.kmeans_centers(emb, k=8, iters=2)
    assert len(cents) >= 1 and all(len(v) == 64 for _, v in cents)
    via_centers = similarity._assign_arrow(
        emb.select("vec_id", "embedding"), cents, "vec_id", "embedding",
        emit="assign",
    )
    via_lloyd = similarity.kmeans_lloyd(emb, k=8, iters=2)
    a = sorted(map(tuple, via_centers.collect()))
    b = sorted(map(tuple, via_lloyd.collect()))
    assert a == b


def test_epoch_lifecycle_search_equals_single_snapshot(spark):
    """With a frozen quantizer, the two-epoch earlier-wins compaction
    must leave search output bit-identical to the fresh-assignment
    `knn_ivf` — the lifecycle changes the index's history, never its
    content."""
    from indicators_spark.functions import similarity
    from indicators_spark.queries import QUERIES
    from indicators_spark.queries._base import _emb

    emb = _emb(spark, SF_SMOKE)
    fresh = similarity.knn_ivf(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4
    )
    via_epochs = QUERIES["similarity_knn_ivf_epochs"].spark(spark, SF_SMOKE)
    a = sorted(map(tuple, fresh.select("qid", "nid", "rank").collect()))
    b = sorted(map(tuple, via_epochs.select("qid", "nid", "rank").collect()))
    assert a == b


def test_trained_ivf_recall_at_least_probed_fraction(spark):
    """Sanity on the audit itself: recall values live in [0, 1] and the
    trained cells return a full top-k candidate set for every query."""
    from indicators_spark.queries import QUERIES

    rows = QUERIES["similarity_ivf_recall_trained"].spark(
        spark, SF_SMOKE
    ).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
