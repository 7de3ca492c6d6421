"""Hand-built-fixture tests for the pipeline operators (dedup, text,
similarity, as-of join) — known answers, independent of the oracle."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from indicators_spark.functions import dedup, text
from indicators_spark.functions.joins import asof_join
from indicators_spark.functions.similarity import cosine_pairs, knn_bruteforce


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),          # exact dup of 1
        (3, "the cat sat on the red mat"),      # near dup of 1
        (4, "completely different words here"),
        (5, "the dog sat on the mat"),          # near dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicate_groups(docs).collect()
    sizes = {r["keep_id"]: r["group_size"] for r in groups}
    assert sizes[1] == 2           # 1 and 2 collapse, min id kept
    assert len(groups) == 4
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 4
    assert kept.filter(F.col("doc_id") == 2).count() == 0


def test_jaccard_pairs_values(spark, docs):
    pairs = {
        (r["ia"], r["ib"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0                      # identical sets
    # {the,cat,sat,on,mat} vs {the,cat,sat,on,red,mat}: 5/6
    assert pairs[(1, 3)] == pytest.approx(5 / 6)
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_exact_dups(spark, docs):
    cand = dedup.minhash_lsh_candidates(docs).collect()
    pairs = {(r["ia"], r["ib"]): r["n_bands"] for r in cand}
    assert pairs.get((1, 2)) == 4  # identical docs collide in all 4 bands


def test_simhash_identical_docs_equal(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[1] == sh[2]
    assert 0 <= sh[1] < 2**32
    pairs = dedup.simhash_pairs(docs, max_hamming=0).collect()
    assert any(r["ia"] == 1 and r["ib"] == 2 for r in pairs)


def test_text_stats_and_fingerprint(spark, docs):
    out = text.with_token_stats(docs).filter(F.col("doc_id") == 1).first()
    assert out["token_count"] == 6
    assert out["distinct_tokens"] == 5
    fp = text.with_fingerprint(docs).select("doc_id", "fp_md5", "fp_roll").collect()
    by_id = {r["doc_id"]: (r["fp_md5"], r["fp_roll"]) for r in fp}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    # rolling hash is order-sensitive
    rev = spark.createDataFrame([(9, "mat the on sat cat the")], "doc_id long, text string")
    fp9 = text.with_fingerprint(rev).first()
    assert fp9["fp_roll"] != by_id[1][1]


def test_knn_and_cosine_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # identical to 0
        (2, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    knn = knn_bruteforce(df, df.filter(F.col("vec_id") == 0), k=2)
    got = [(r["nid"], r["rank"]) for r in knn.orderBy("rank").collect()]
    assert got[0] == (1, 1)        # exact copy first (cos=1)
    assert got[1] == (2, 2)
    pairs = cosine_pairs(df, 0.99).collect()
    assert {(r["ia"], r["ib"]) for r in pairs} >= {(0, 1)}


def test_knn_ivf_hand_fixture(spark):
    from indicators_spark.functions.similarity import knn_ivf

    # Two well-separated clusters around e0 and e1; ids 0 and 1 double as
    # the coarse centroids (n_centroids=2).  With nprobe=1 each query only
    # sees its own cluster — id 5 (near e1) must NOT appear for query 0.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.8, 0.0, 0.2, 0.0]),
        (4, [0.1, 0.9, 0.0, 0.0]),
        (5, [0.0, 0.8, 0.0, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_ivf(
        df, df.filter(F.col("vec_id") < 2), k=3, n_centroids=2, nprobe=1
    )
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["qid"], []).append((r["rank"], r["nid"]))
    assert sorted(by_q[0]) == [(1, 2), (2, 3)]      # own cell only, ranked
    assert sorted(by_q[1]) == [(1, 4), (2, 5)]
    # nprobe=2 probes both cells → the orthogonal cluster becomes visible
    out2 = knn_ivf(
        df, df.filter(F.col("vec_id") == 0), k=5, n_centroids=2, nprobe=2
    )
    nids = {r["nid"] for r in out2.collect()}
    assert nids == {1, 2, 3, 4, 5}


def test_asof_join_semantics(spark):
    def ts(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [("A", ts(1), 1), ("A", ts(5), 2), ("A", ts(10), 3), ("B", ts(5), 4)],
        "symbol string, timestamp timestamp, seq long",
    )
    right = spark.createDataFrame(
        [("A", ts(0), 100.0), ("A", ts(5), 200.0), ("B", ts(6), 300.0)],
        "symbol string, timestamp timestamp, px double",
    )
    out = asof_join(left, right, on="timestamp", by=["symbol"], value_cols=["px"])
    got = {r["seq"]: r["px_right"] for r in out.collect()}
    assert got[1] == 100.0     # latest right <= 00:01 is 00:00
    assert got[2] == 200.0     # equal timestamps match (<=)
    assert got[3] == 200.0     # carried forward
    assert got[4] is None      # B has no right row <= 00:05


def test_range_join_semantics(spark):
    from indicators_spark.functions.joins import range_join

    points = spark.createDataFrame(
        [("A", 0, 1.0), ("A", 10, 2.0), ("A", 25, 3.0), ("A", 99, 4.0),
         ("B", 10, 5.0), ("A", -5, 6.0)],
        "symbol string, seq long, close double",
    )
    intervals = spark.createDataFrame(
        # [0,10] inclusive both ends; [20,120] spans many buckets; B-keyed;
        # [-10,-1] exercises negative-value bucketing
        [("A", 0, 10), ("A", 20, 120), ("B", 5, 15), ("A", -10, -1)],
        "symbol string, i_start long, i_end long",
    )
    out = range_join(
        points, intervals, "seq", "i_start", "i_end", bucket_width=7,
        by=["symbol"],
    )
    got = sorted((r["seq"], r["i_start"]) for r in out.collect())
    # no duplicates despite [20,120] spanning ~15 buckets of width 7
    assert got == sorted([(-5, -10), (0, 0), (10, 0), (25, 20), (99, 20), (10, 5)])


def test_range_join_rejects_colliding_columns(spark):
    from indicators_spark.functions.joins import range_join

    df = spark.createDataFrame([("A", 1, 2)], "symbol string, x long, close long")
    try:
        range_join(df, df, "x", "x", "x", bucket_width=1, by=["symbol"])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "collide" in str(e)


def test_audio_frame_features_hand_fixture(spark):
    """Known bytes -> known frames: 400 bytes of 0xFF gives 2 frames
    ((400-256)//128+1, hop 128), rms == peak == 127/128, zero crossings 0;
    a short alternating clip pads to one frame with a crossing per pair."""
    from indicators_spark.functions.multimodal import audio_frame_features

    loud = bytes([255] * 400)
    alt = bytes([0, 255] * 4)  # 8 samples, padded to 256
    df = spark.createDataFrame(
        [(1, bytearray(loud)), (2, bytearray(alt))], "doc_id long, payload binary"
    )
    out = {
        (r.doc_id, r.frame_idx): r
        for r in audio_frame_features(df).collect()
    }
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    f = out[(1, 0)]
    assert f.rms == pytest.approx(127 / 128)
    assert f.peak == pytest.approx(127 / 128)
    assert f.zero_crossings == 0
    assert out[(1, 1)].frame_start == 128
    g = out[(2, 0)]
    # samples: -1, 127/128 alternating x4 then zeros; signbit flips between
    # each of the 8 real samples (7) plus the -1 -> pad-zero edge... the
    # last real sample is 127/128 (positive) so pad edge adds 0: 7 total
    assert g.zero_crossings == 7
    assert g.peak == pytest.approx(1.0)


def test_salted_join_equals_plain_join(spark):
    """Salting is a pure physical rewrite: inner and left results must
    equal the unsalted join, including unmatched-left NULLs and a key
    absent from the dim side."""
    from indicators_spark.functions.joins import salted_join

    fact = spark.createDataFrame(
        [(0, i * 1.0) for i in range(50)] + [(7, 99.0), (404, 1.0)],
        "k long, v double",
    )
    dim = spark.createDataFrame([(0, "hot"), (7, "cold")], "k long, name string")

    for how in ("inner", "left"):
        got = {
            tuple(r)
            for r in salted_join(fact, dim, "k", n_salt=5, how=how).collect()
        }
        want = {tuple(r) for r in fact.join(dim, "k", how).collect()}
        assert got == want, how
    assert len(got) == 52  # left keeps the dim-less key 404

    with pytest.raises(ValueError):
        salted_join(fact, dim, "k", how="right")


def test_connected_components_fixture(spark):
    """Path (0-1-2-3), triangle (10,11,12), isolated edge (20,21): every
    vertex must label with its component's min id — including the path,
    which needs multi-round propagation (exercises pointer doubling)."""
    from indicators_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "ia long, ib long",
    )
    got = {
        (r["v"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (0, 0), (1, 0), (2, 0), (3, 0),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_lm_perplexity_uniform_doc(spark):
    """A two-doc corpus where doc 0 repeats one bigram: its cross-entropy
    must be strictly lower than the unique-bigram doc's."""
    from indicators_spark.queries.corpus import lm_perplexity

    docs = spark.createDataFrame(
        [(0, "a b a b a b a b"), (1, "c d e f g h")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_perplexity(docs).collect()}
    assert rows[0]["n_bigrams"] == 7 and rows[1]["n_bigrams"] == 5
    assert rows[0]["cross_entropy"] < rows[1]["cross_entropy"]


def test_cosine_pairs_band_prune_matches_all_pairs(spark):
    """The angular band-prune is EXACT: banded and all-pairs forms must
    return identical pair sets at several thresholds."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for t in (0.0, 0.4, 0.9):
        banded = {
            (r["ia"], r["ib"], round(r["cos"], 9))
            for r in cosine_pairs(df, t).collect()
        }
        allp = {
            (r["ia"], r["ib"], round(r["cos"], 9))
            for r in cosine_pairs(df, t, band_prune=False).collect()
        }
        assert banded == allp, f"threshold {t}: {banded ^ allp}"


def test_cosine_pairs_banded_plan_has_no_nested_loop(spark):
    """The banded form must plan as a hash/sort-merge join on the bucket
    key, not a BroadcastNestedLoopJoin O(n²) cross product."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    plan = cosine_pairs(df, 0.4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_repetition_signals(spark):
    """dup_word_frac / top_bigram_frac on hand-computable docs; a
    single-word doc has no bigrams and is dropped (oracle mirrors)."""
    from indicators_spark.functions.text import repetition_signals

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),      # 2 distinct / 6 words; top bigram "a b" x3 of 5
            (1, "v w x y z"),        # all distinct; every bigram unique (1 of 4)
            (2, "solo"),             # dropped: no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert set(rows) == {0, 1}
    assert abs(rows[0]["dup_word_frac"] - (1 - 2 / 6)) < 1e-12
    assert abs(rows[0]["top_bigram_frac"] - 3 / 5) < 1e-12
    assert rows[1]["dup_word_frac"] == 0.0
    assert abs(rows[1]["top_bigram_frac"] - 1 / 4) < 1e-12


def test_decontaminate_flags(spark):
    """Docs sharing a benchmark 3-gram are flagged; disjoint docs are not;
    short docs (< n words) can never be flagged."""
    from indicators_spark.functions.text import decontaminate_flags

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (0, "xx the quick brown yy"),   # shares "the quick brown"
            (1, "totally different words here"),
            (2, "the quick"),               # too short for a 3-gram
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_flags(train, bench, n=3).collect()
    }
    assert rows == {0: True, 1: False, 2: False}


def test_chunk_documents_boundaries(spark):
    """Chunk/overlap arithmetic: 10 words, chunk 4, overlap 2 → step 2 →
    4 chunks at starts 1,3,5,7 (last covers through word 10); short doc →
    one truncated chunk."""
    from indicators_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [(0, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), (1, "a b")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(docs, chunk=4, overlap=2).collect()
    )
    assert rows == [
        (0, 0, "w1 w2 w3 w4", 4),
        (0, 1, "w3 w4 w5 w6", 4),
        (0, 2, "w5 w6 w7 w8", 4),
        (0, 3, "w7 w8 w9 w10", 4),
        (1, 0, "a b", 2),
    ]


def test_compression_ratio_orders_repetitive_below_noise(spark):
    """zlib compressibility: a highly repetitive doc must compress far
    below a high-entropy one; values deterministic and in (0, ~1.1]."""
    from indicators_spark.functions.text import with_compression_ratio

    import random

    rnd = random.Random(3)
    noisy = " ".join(
        "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(60)
    )
    docs = spark.createDataFrame(
        [(0, "spam ham " * 200), (1, noisy)], "doc_id long, text string"
    )
    twice = [
        {r["doc_id"]: r["compression_ratio"] for r in with_compression_ratio(docs).collect()}
        for _ in range(2)
    ]
    assert twice[0] == twice[1]  # deterministic
    rows = twice[0]
    assert rows[0] < 0.2 < rows[1] <= 1.1
    assert rows[1] > 0.5


def test_semantic_dedup_keeps_one_per_dup_set(spark):
    """Identical vectors land in the same cell; semantic dedup must keep
    exactly the lowest id of each identical group and all singletons."""
    from indicators_spark.functions.similarity import semantic_dedup

    v1 = [1.0, 0.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 0.0, 0.0]
    rows = [(0, v1), (1, v2), (10, v1), (11, v1), (12, v2), (20, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r["vec_id"] for r in semantic_dedup(df, threshold=0.99, n_centroids=2).collect()}
    assert kept == {0, 1, 20}


def test_semantic_dedup_no_centroids_raises(spark):
    """Ids all >= n_centroids would yield an empty centroid list and an
    opaque F.array() analysis error — fail fast with a clear message."""
    import pytest

    from indicators_spark.functions.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="centroid"):
        semantic_dedup(df, n_centroids=16)


def test_minhash_lsh_bucket_cap_bounds_candidates(spark):
    """Adversarial all-identical corpus: every doc lands in one band
    bucket, so uncapped candidates are quadratic (C(40,2)); the cap keeps
    the 5 lowest ids per bucket (C(5,2) pairs) and the overflow stats
    name the dropped mass."""
    from indicators_spark.functions.dedup import (
        lsh_bucket_overflow,
        minhash_lsh_candidates,
    )

    docs = spark.createDataFrame(
        [(i, "the same exact document text repeated here") for i in range(40)],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_candidates(docs)
    assert uncapped.count() == 40 * 39 // 2
    capped = minhash_lsh_candidates(docs, max_bucket_size=5)
    rows = capped.collect()
    assert len(rows) == 5 * 4 // 2
    assert all(r["ia"] < 5 and r["ib"] < 5 and r["n_bands"] == 4 for r in rows)
    over = lsh_bucket_overflow(docs, max_bucket_size=5).collect()
    assert len(over) == 4  # one oversized bucket per band
    assert all(r["size"] == 40 and r["dropped"] == 35 for r in over)


def test_semantic_dedup_cell_cap_over_keeps(spark):
    """All-identical vectors: uncapped keeps only id 0; with a cell cap
    only the lowest-cap ids are compared, so beyond-cap ids are KEPT
    (the cap over-keeps, never over-drops)."""
    from indicators_spark.functions.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    kept = {r["vec_id"] for r in semantic_dedup(df, n_centroids=2).collect()}
    assert kept == {0}
    kept_capped = {
        r["vec_id"]
        for r in semantic_dedup(df, n_centroids=2, max_cell_size=5).collect()
    }
    assert kept_capped == {0} | set(range(5, 20))


def test_tfidf_max_df_frac_prunes_high_df_token(spark):
    """idf=0 only kills corpus-wide tokens; 'common' (df=4/5, idf>0)
    still joins every doc pair.  max_df_frac=0.5 drops it from the
    vocabulary, so docs sharing ONLY that token no longer pair, while
    rare-token pairs survive (renormalized over the kept vocabulary)."""
    from indicators_spark.functions.similarity import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (0, "common rare1"),
            (1, "common rare1"),
            (2, "common alpha"),
            (3, "common beta"),
            (4, "gamma delta"),
        ],
        "doc_id long, text string",
    )
    base = {(r["ia"], r["ib"]): r["cos"] for r in tfidf_cosine_pairs(docs, 0.01).collect()}
    assert (0, 1) in base  # identical docs
    assert (2, 3) in base  # paired through 'common' alone
    pruned = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, 0.01, max_df_frac=0.5).collect()
    }
    assert (2, 3) not in pruned          # 'common' (df 4 > 0.5*5) pruned
    assert pruned[(0, 1)] == pytest.approx(1.0)  # rare1-only vectors renormalize


def test_redact_pii_fixtures(spark):
    """Crafted PII of every pattern class: counts and sequential
    replacement order (ssn before the looser phone pattern) must hold."""
    from indicators_spark.functions.text import redact_pii

    docs = spark.createDataFrame(
        [
            (0, "contact bob.smith+x@corp.example.com or jo@ex.org today"),
            (1, "ssn 123-45-6789 phone +1 (415) 555-0199 done"),
            (2, "server 10.0.255.7 pinged 192.168.1.1 twice"),
            (3, "plain text with no identifiers at all"),
            (4, "call 415-555-0123 x"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert rows[0]["pii_email_count"] == 2
    assert "<EMAIL>" in rows[0]["redacted"] and "@" not in rows[0]["redacted"]
    assert rows[1]["pii_ssn_count"] == 1 and rows[1]["pii_phone_count"] == 1
    assert "<SSN>" in rows[1]["redacted"] and "<PHONE>" in rows[1]["redacted"]
    assert rows[2]["pii_ipv4_count"] == 2 and "<IP>" in rows[2]["redacted"]
    assert rows[3]["pii_total_count"] == 0
    assert rows[3]["redacted"] == rows[3]["text"]
    assert rows[4]["pii_phone_count"] == 1
    total = sum(
        rows[i][f"pii_{n}_count"]
        for i in rows
        for n in ("email", "ssn", "ipv4", "phone")
    )
    assert total == sum(rows[i]["pii_total_count"] for i in rows) == 7


def test_chunk_dedup_exact_crafted(spark):
    """Doc 1 repeats doc 0's text exactly (all chunks lost to doc 0);
    doc 2 is unique (all kept)."""
    from indicators_spark.functions.text import chunk_dedup_exact

    base = " ".join(f"w{i}" for i in range(100))
    uniq = " ".join(f"u{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, uniq)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in chunk_dedup_exact(docs, 64, 16).collect()}
    assert rows[0]["kept_chunks"] == rows[0]["n_chunks"]
    assert rows[1]["kept_chunks"] == 0 and rows[1]["n_chunks"] == rows[0]["n_chunks"]
    # 80 words, chunk=64, step=48 -> 2 chunks, both unique and kept
    assert rows[2]["kept_chunks"] == rows[2]["n_chunks"] == 2
    assert rows[1]["kept_frac"] == 0.0 and rows[0]["kept_frac"] == 1.0


def test_pq_encode_and_adc_hand_fixture(spark):
    from indicators_spark.functions.similarity import knn_pq, pq_encode

    # dim=4, n_sub=2 (2 dims per subspace), n_codes=2: ids 0/1 double as
    # the per-subspace codebooks.  Codes are hand-checkable.
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.0, 1.0, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.1, 0.9]),   # sub0≈cw0, sub1≈cw0 → (0, 0)
        (3, [0.1, 0.9, 0.9, 0.1]),   # → (1, 1)
        (4, [0.9, 0.1, 0.9, 0.1]),   # mixed: (0, 1)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    enc = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in pq_encode(df, n_sub=2, n_codes=2).collect()
    }
    assert enc[2] == (0, 0)
    assert enc[3] == (1, 1)
    assert enc[4] == (0, 1)

    # ADC from query 0: candidate distance = sum of per-subspace TABLE
    # lookups, so identically-coded rows tie exactly (1 and 3 both (1,1))
    # and break to the smaller nid.
    out = knn_pq(df, df.filter(F.col("vec_id") == 0), k=4, n_sub=2, n_codes=2)
    got = [(r["rank"], r["nid"]) for r in out.orderBy("rank").collect()]
    assert got == [(1, 2), (2, 4), (3, 1), (4, 3)]
    adists = {r["nid"]: r["adist"] for r in out.collect()}
    assert adists[1] == adists[3]          # same codes → identical adist
    assert adists[2] < adists[4] < adists[1]


def test_pq_codebook_requires_dense_ids(spark):
    import pytest as _pytest

    from indicators_spark.functions.similarity import pq_encode

    df = spark.createDataFrame(
        [(5, [1.0, 0.0]), (7, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="dense integer ids"):
        pq_encode(df, n_sub=1, n_codes=2)


def test_knn_ivfpq_cell_pruning(spark):
    from indicators_spark.functions.similarity import knn_ivfpq

    # Same two-cluster geometry as the IVF fixture; ids 0/1 double as both
    # the coarse centroids AND the PQ codebooks.  With nprobe=1 query 0
    # must only see its own cluster, scored by ADC table lookups.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.8, 0.0, 0.2, 0.0]),
        (4, [0.1, 0.9, 0.9, 0.0]),
        (5, [0.0, 0.8, 0.8, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_ivfpq(
        df,
        df.filter(F.col("vec_id") < 2),
        k=5,
        n_centroids=2,
        nprobe=1,
        n_sub=2,
        n_codes=2,
    )
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["qid"], set()).add(r["nid"])
    assert by_q[0] <= {2, 3}        # own cell only — 4/5 pruned by IVF
    assert by_q[1] <= {4, 5}
    # nprobe=2 opens both cells
    out2 = knn_ivfpq(
        df, df.filter(F.col("vec_id") == 0), k=5,
        n_centroids=2, nprobe=2, n_sub=2, n_codes=2,
    )
    assert {r["nid"] for r in out2.collect()} == {1, 2, 3, 4, 5}


def test_hll_rollup_accuracy_and_merge_consistency(spark):
    from indicators_spark.functions.sketches import hll_distinct_rollup
    from indicators_spark.sources.prices import load_table

    from conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    out = {r["day"]: r["approx_distinct"] for r in hll_distinct_rollup(ev).collect()}

    # per-day estimates within 2% of exact (lgK=12 is ~0.8% RSE)
    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for day, n in exact.items():
        assert abs(out[day] - n) <= max(2, 0.02 * n), (day, out[day], n)

    # mergeability: the ALL row (union of stored daily sketches) must equal
    # the sketch built in one pass over the whole table — bit-identical
    # estimate, not merely close.  This is the compute-once/rollup-forever
    # contract.
    whole = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12)))
    ).first()[0]
    assert out["ALL"] == whole
    exact_all = ev.select(F.count_distinct("user_id")).first()[0]
    assert abs(out["ALL"] - exact_all) <= max(2, 0.02 * exact_all)


def test_knn_hard_negatives_excludes_same_label(spark):
    from pyspark.sql import functions as F

    from indicators_spark.functions.similarity import knn_hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),   # same label as query 0 — must never appear
        (2, [0.9, 0.2], 1),
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = knn_hard_negatives(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    got = {(r.qid, r.rank): r.nid for r in out}
    # nearest different-label vector is 2, then 3 — never 1
    assert got[(0, 1)] == 2 and got[(0, 2)] == 3
    assert 1 not in {r.nid for r in out}


def test_centroid_classify_tight_clusters_self_consistent(spark):
    from indicators_spark.functions.similarity import centroid_classify

    rows = [(i, [float(lab), 0.1 * (i % 3)], lab) for i, lab in enumerate([0] * 4 + [1] * 4 + [2] * 4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = centroid_classify(df).collect()
    assert all(r.assigned == r.label for r in out)


def test_covariance_matrix_matches_numpy(spark):
    import numpy as np

    from indicators_spark.functions.similarity import covariance_matrix

    rng = [[0.1, 1.0, -0.5], [0.2, 0.8, -0.4], [0.0, 1.3, -0.9], [0.4, 0.7, 0.1]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<float>"
    )
    out = {(r.i, r.j): r.cov for r in covariance_matrix(df, dim=3).collect()}
    # the column stores float32 — the reference must round-trip the same way
    x = np.array(rng, dtype=np.float32).astype(np.float64)
    ref = np.cov(x, rowvar=False, bias=True)  # population covariance
    assert len(out) == 6  # upper triangle of 3x3
    for (i, j), v in out.items():
        assert abs(v - ref[i - 1, j - 1]) < 1e-12


def test_bpe_pair_counts_crafted(spark):
    from indicators_spark.functions.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "aba ab x"), (2, "ab")], "doc_id long, text string"
    )
    out = {r.pair: (r.cnt, r.rank) for r in bpe_pair_counts(df, top_k=10).collect()}
    # pairs: "aba" -> ab, ba ; "ab" -> ab ; "ab" -> ab ; "x" skipped (len 1)
    assert out["ab"] == (3, 1)
    assert out["ba"] == (1, 2)
    assert "x" not in out


def test_temperature_mixture_weights(spark):
    from indicators_spark.functions.sampling import temperature_mixture

    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    flat = {r.source: r for r in temperature_mixture(df, alpha=0.5).collect()}
    nat = {r.source: r for r in temperature_mixture(df, alpha=1.0).collect()}
    assert abs(sum(r.weight for r in flat.values()) - 1.0) < 1e-12
    # alpha=1 keeps natural proportions; alpha=0.5 up-samples the tail
    assert abs(nat["big"].weight - 0.9) < 1e-12
    assert flat["small"].weight > 0.1
    assert flat["big"].weight + flat["small"].weight == pytest.approx(1.0)


def test_pagerank_symmetric_cycle_is_uniform(spark):
    from indicators_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iters=5).collect()}
    assert all(abs(v - 1.0 / 3) < 1e-12 for v in ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-12


def test_pagerank_weighted_sink_gets_more_mass(spark):
    from indicators_spark.functions.graph import pagerank

    # b receives 9x the weight a->c does; c and b both return to a
    edges = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iters=10, weight="w").collect()}
    assert ranks["b"] > ranks["c"]
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_label_propagation_two_triangles(spark):
    from indicators_spark.functions.graph import label_propagation

    # two triangles joined by one weak bridge — LPA should find 2 blocks
    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    edges = spark.createDataFrame(
        [(u, v, 3) for u, v in tri1 + tri2] + [("c", "x", 1)],
        "src string, dst string, w int",
    )
    out = {r.node: r.label for r in label_propagation(edges, iters=4, weight="w").collect()}
    assert len(set(out.values())) == 2
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    assert out["a"] != out["x"]


def test_kmv_sketch_exactly_mergeable(spark):
    """Bottom-k of merged per-group sketches must equal bottom-k built
    directly over all rows — the exact-mergeability contract."""
    from indicators_spark.functions.sketches import kmv_bottom_k, kmv_merge

    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(500)],
        "id long, grp int, value double",
    )
    daily = kmv_bottom_k(df, "value", "id", k=32, group_cols=("grp",))
    merged = {(r.h, r.v) for r in kmv_merge(daily, k=32).collect()}
    whole = {
        (r.h, r.v) for r in kmv_bottom_k(df, "value", "id", k=32).collect()
    }
    assert merged == whole
    assert len(merged) == 32


def test_arrow_assign_bitwise_equals_literal_argmin(spark):
    """The fold-exact numpy kernel must agree with the JVM literal-
    expression argmin on every row — not approximately: the per-dimension
    accumulation replicates the exact IEEE op order, so cluster choices
    are identical even where two centroids are nearly equidistant."""
    import random

    from pyspark.sql import functions as F

    from indicators_spark.functions.similarity import (
        _argmin_cluster,
        _assign_arrow,
        _quant_vec,
    )

    rng = random.Random(1234)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = sorted(
        (int(r[0]), list(r[1]))
        for r in df.filter(F.col("vec_id") < 6)
        .select("vec_id", _quant_vec(F.col("embedding")))
        .collect()
    )
    lit = {
        r.vec_id: r.cluster
        for r in df.select(
            "vec_id", _argmin_cluster(cents, "embedding").alias("cluster")
        ).collect()
    }
    arrow = {
        r.vec_id: r.cluster
        for r in _assign_arrow(df, cents, "vec_id", "embedding").collect()
    }
    assert lit == arrow and len(lit) == 300


def test_phash_identical_payloads_collide(spark):
    from pyspark.sql import functions as F

    from indicators_spark.functions.multimodal import attach_payload, phash64

    base = "x" * 40 + "y" * 40  # 80 bytes, above the 64-byte floor
    rows = [(1, base), (2, base), (3, "z" * 30 + "a" * 50), (4, "short")]
    df = attach_payload(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    out = {r.doc_id: r.phash for r in phash64(df).collect()}
    assert out[1] == out[2]          # identical bytes → identical hash
    assert out[1] != out[3]
    assert 4 not in out              # < 64 bytes skipped


def test_asof_join_rowwise_carry_and_null_ts(spark):
    """The matched right row's values travel TOGETHER (a NULL px in the
    newest row must not resurrect an older row's px), and right rows with
    NULL ts never match."""
    import datetime as _dt

    from indicators_spark.functions.joins import asof_join

    def ts(m):
        return _dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [("A", ts(3), 1), ("A", ts(0), 2)],
        "symbol string, timestamp timestamp, seq long",
    )
    right = spark.createDataFrame(
        [
            ("A", ts(1), 10.0, 1.0),
            ("A", ts(2), None, 5.0),   # newest row: px NULL, qty 5
            ("A", None, 99.0, 99.0),   # NULL ts: must never match
        ],
        "symbol string, timestamp timestamp, px double, qty double",
    )
    out = {
        r.seq: (r.px_right, r.qty_right)
        for r in asof_join(
            left, right, on="timestamp", by=["symbol"],
            value_cols=["px", "qty"],
        ).collect()
    }
    assert out[1] == (None, 5.0)   # the ts(2) ROW, not a px/qty stitch
    assert out[2] == (None, None)  # nothing at/before ts(0)


def test_scd2_tracked_collapses_noop_changes(spark):
    from indicators_spark.functions.merge import scd2

    hist = spark.createDataFrame(
        [
            (1, 10, 5.0), (1, 11, 5.0),   # no-op: same balance
            (1, 12, 7.0),                 # real change
            (2, 20, None), (2, 21, None), # null == null: no-op
            (2, 22, 1.0),
        ],
        "custkey long, change_id long, balance double",
    )
    out = scd2(hist, key="custkey", order_col="change_id", tracked=["balance"])
    rows = {(r.custkey, r.change_id): r for r in out.collect()}
    assert set(rows) == {(1, 10), (1, 12), (2, 20), (2, 22)}
    assert rows[(1, 10)].version == 1 and rows[(1, 10)].valid_to == 12
    assert rows[(1, 12)].is_current


def test_tfidf_dense_matches_sparse(spark):
    """The dense-GEMM and posting-join paths must produce identical pair
    sets and cosines (to float reassociation) — the dispatch is a plan
    choice, never a semantics choice."""
    from indicators_spark.functions.similarity import tfidf_cosine_pairs
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    dense = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, threshold=0.3).collect()
    }
    sparse = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, threshold=0.3, dense_max_vocab=0).collect()
    }
    assert dense.keys() == sparse.keys() and dense
    for k in dense:
        assert dense[k] == pytest.approx(sparse[k], rel=1e-12)


def test_substring_dup_spans_merges_maximal(spark):
    """Crafted corpus: a shared 12-word passage at different offsets in
    two docs becomes ONE maximal span each; unique text yields none; a
    within-doc repeat (same doc, two positions) also counts."""
    from indicators_spark.functions.dedup import (
        substring_dup_spans,
        substring_dup_stats,
    )

    shared = " ".join(f"p{i}" for i in range(12))  # 12-word passage
    rows = [
        (0, "a b c " + shared + " x y z"),            # span at words 4..15
        (1, shared + " q r s t u v w"),               # span at words 1..12
        (2, "only unique words live here " + " ".join(f"u{i}" for i in range(10))),
        (3, " ".join(f"w{i}" for i in range(10)) + " " + " ".join(f"w{i}" for i in range(10))),  # self-repeat
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_words"])
        for r in substring_dup_spans(docs, n=10).collect()
    }
    assert spans[0] == (4, 15, 12)
    assert spans[1] == (1, 12, 12)
    assert 2 not in spans
    assert spans[3] == (1, 20, 20)  # both copies + the bridge are covered
    stats = {
        r["doc_id"]: (r["n_words"], r["dup_words"])
        for r in substring_dup_stats(docs, n=10).collect()
    }
    assert stats[0] == (18, 12) and stats[1] == (19, 12)
    assert stats[2][1] == 0
    assert stats[3] == (20, 20)


def test_substring_dup_spans_disjoint_and_bounded(spark):
    """Merged spans are pairwise disjoint and dup_words <= n_words on a
    repetitive corpus (the invariant substring_dup_stats relies on)."""
    from indicators_spark.functions.dedup import (
        substring_dup_spans,
        substring_dup_stats,
    )
    from indicators_spark.sources.prices import load_table

    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    spans = substring_dup_spans(docs, n=10).collect()
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in spans:
        assert r["span_words"] == r["span_end"] - r["span_start"] + 1 >= 10
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    assert by_doc, "smoke corpus should contain duplicated passages"
    for sp in by_doc.values():
        sp.sort()
        for (s1, e1), (s2, e2) in zip(sp, sp[1:]):
            assert s2 > e1 + 1  # disjoint AND non-adjacent (maximal)
    for r in substring_dup_stats(docs, n=10).collect():
        assert 0 <= r["dup_words"] <= r["n_words"]


def test_substring_dup_spans_max_df_frac_prunes_boilerplate(spark):
    """max_df_frac bans grams present in more than that fraction of
    documents BEFORE occurrence analysis: a boilerplate block shared by
    8/10 docs stops seeding spans, while a 2-doc passage still does.
    Incremental + clean callers thread the guard through."""
    from indicators_spark.functions.dedup import (
        substring_dedup_against_corpus,
        substring_dedup_clean,
        substring_dup_spans,
    )

    boiler = " ".join(f"bp{i}" for i in range(12))
    pair = " ".join(f"pp{i}" for i in range(12))
    rows = [(i, boiler + f" filler{i} " + " ".join(f"u{i}_{j}" for j in range(8)))
            for i in range(8)]
    rows += [(8, pair + " tail8 " + " ".join(f"v8_{j}" for j in range(8))),
             (9, pair + " tail9 " + " ".join(f"v9_{j}" for j in range(8)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = {r["doc_id"] for r in substring_dup_spans(docs, n=10).collect()}
    assert full == set(range(10))  # unguarded: boilerplate spans everywhere
    pruned = {
        r["doc_id"]
        for r in substring_dup_spans(docs, n=10, max_df_frac=0.5).collect()
    }
    assert pruned == {8, 9}  # df=8/10 grams banned, df=2/10 passage kept

    # clean caller: boilerplate docs pass through verbatim under the guard
    cleaned = {
        r["doc_id"]: r["n_removed"]
        for r in substring_dedup_clean(docs, n=10, max_df_frac=0.5).collect()
    }
    assert all(cleaned[i] == 0 for i in range(8))
    assert cleaned[9] == 12 and cleaned[8] == 0  # keep-first: doc 8 survives

    # incremental caller: corpus-side hot grams stop flagging the batch
    hist = docs.filter(F.col("doc_id") < 8)
    batch = spark.createDataFrame(
        [(100, boiler + " new tail words here for batch doc")],
        "doc_id long, text string",
    )
    hit = substring_dedup_against_corpus(batch, hist, n=10).count()
    assert hit == 1
    guarded = substring_dedup_against_corpus(
        batch, hist, n=10, max_df_frac=0.5
    ).count()
    assert guarded == 0


def test_substring_dup_spans_keep_first_policy(spark):
    """keep_first=True: the globally-first copy of each passage survives
    (no span), only later occurrences are cut — the paper's removal
    policy, vs the default audit view that marks every copy."""
    from indicators_spark.functions.dedup import substring_dup_spans

    shared = " ".join(f"p{i}" for i in range(12))
    rows = [
        (0, "a b c " + shared + " x y z"),  # first copy (doc 0 < doc 1)
        (1, shared + " q r s t u v w"),     # later copy -> cut
        (3, " ".join(f"w{i}" for i in range(10)) + " "
            + " ".join(f"w{i}" for i in range(10))),  # self-repeat
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in substring_dup_spans(docs, n=10, keep_first=True).collect()
    }
    assert 0 not in spans              # canonical copy untouched
    assert spans[1] == (1, 12)         # later copy fully marked
    assert spans[3] == (11, 20)        # second half of the self-repeat


def test_substring_dedup_clean_transform(spark):
    """The cleaned-corpus rewrite: canonical copies survive verbatim,
    later copies lose exactly the duplicated span, untouched docs pass
    through, and fully-duplicated docs clean to ''."""
    from indicators_spark.functions.dedup import substring_dedup_clean

    shared = " ".join(f"p{i}" for i in range(12))
    rows = [
        (0, "a b c " + shared + " x y z"),
        (1, shared + " q r s t u v w"),
        (2, "short unique document"),
        (3, shared),  # whole doc = later copy of the passage -> ''? no:
                      # doc 0 holds the canonical grams (doc 0 < doc 3),
                      # so doc 3 is fully cut
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in substring_dedup_clean(docs, n=10).collect()
    }
    assert got[0] == ("a b c " + shared + " x y z", 0)
    assert got[1] == ("q r s t u v w", 12)
    assert got[2] == ("short unique document", 0)
    assert got[3] == ("", 12)
    # surviving corpus still contains the passage exactly once
    survivors = [t for t, _ in got.values() if shared in t]
    assert len(survivors) == 1


def test_substring_dedup_against_corpus(spark):
    """Incremental ExactSubstr: only batch passages already in the
    HISTORICAL corpus are flagged; batch-internal repeats are not (they
    belong to the keep-first pass), and historical docs never appear."""
    from indicators_spark.functions.dedup import substring_dedup_against_corpus

    shared = " ".join(f"p{i}" for i in range(12))
    batch_rep = " ".join(f"b{i}" for i in range(10))
    hist = spark.createDataFrame(
        [(0, "intro " + shared + " outro")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "x y " + shared + " z"),           # passage from history
            (11, batch_rep + " " + batch_rep),      # batch-internal only
            (12, "totally novel content " + " ".join(f"n{i}" for i in range(10))),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in substring_dedup_against_corpus(batch, hist, n=10).collect()
    }
    assert spans == {10: (3, 14)}


def test_substring_dedup_clean_null_text_passthrough(spark):
    """NULL text (failed extraction) must come back as NULL clean_text,
    not be coerced to '' by concat_ws — the signal downstream filters
    key on."""
    from indicators_spark.functions.dedup import substring_dedup_clean

    docs = spark.createDataFrame(
        [(0, "some real words here"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in substring_dedup_clean(docs, n=10).collect()
    }
    assert got[0] == ("some real words here", 0)
    assert got[1] == (None, 0)
    assert got[2] == ("", 0)


def test_tfidf_saturated_probe_falls_back_to_agg_dispatch(
    spark, monkeypatch
):
    """When the capped driver fold saturates below dense_max_cells
    (ADVICE r13: don't pull 8M rows to the driver just to dispatch),
    the two-long agg must take over and reach the SAME decision + the
    same results on both the dense-accept and sparse-reject branches."""
    from indicators_spark.functions import similarity
    from indicators_spark.functions.similarity import tfidf_cosine_pairs
    from indicators_spark.sources.prices import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    want = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, threshold=0.3).collect()
    }
    monkeypatch.setattr(similarity, "TFIDF_PROBE_CELLS", 10)
    # probe saturates at 11 rows -> agg dispatch; corpus is dense-eligible
    # -> re-fold + GEMM, same pairs
    dense = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, threshold=0.3).collect()
    }
    assert dense.keys() == want.keys() and dense
    for k in want:
        assert dense[k] == pytest.approx(want[k], rel=1e-12)
    # agg rejects (vocab cap 1) -> sparse join, same pairs
    sparse = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(
            docs, threshold=0.3, dense_max_vocab=1
        ).collect()
    }
    assert sparse.keys() == want.keys()
