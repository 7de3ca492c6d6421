"""Scale probe (not part of the driver's bench contract): synthesizes a
10M-row multi-symbol series in-engine and measures end-to-end throughput of
the per_symbol indicator pipeline, the halo global rolling window, and the
chunk-scan EWM — the three shapes that matter at 100 TB.

Run: python bench_scale.py [rows] [symbols]
Prints one JSON line with rows/sec per shape.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    symbols = int(sys.argv[2]) if len(sys.argv) > 2 else 256

    from pyspark.sql import functions as F

    from indicators_spark import Indicators, get_spark
    from indicators_spark.scale import ewm_chunked, halo_rolling_multi

    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")

    # synthetic series: deterministic, generated distributed (no driver data)
    df = (
        spark.range(rows)
        .select(
            F.concat(F.lit("s"), (F.col("id") % symbols).cast("string")).alias(
                "symbol"
            ),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("timestamp"),
            F.col("id").alias("seq"),
            (F.sin(F.col("id") / 100.0) * 50 + 100).alias("close"),
            (F.abs(F.sin(F.col("id") / 7.0)) * 1000 + 1).alias("volume"),
        )
        .withColumn("high", F.col("close") * 1.01)
        .withColumn("low", F.col("close") * 0.99)
        .repartition(64, "symbol")
    )
    df.cache()
    n = df.count()  # materialize

    def _few(d):
        return d.withColumn(
            "symbol", F.concat(F.lit("r"), (F.col("seq") % 3).cast("string"))
        )

    def _rsi_halo(d, nrows):
        from indicators_spark import kernels as K
        from indicators_spark.scale import halo_lag, halo_rolling_multi

        bounds = (0.0, float(nrows - 1))
        lagged = halo_lag(
            d, "close", 1, ("timestamp", "seq"), buckets=64, out="_prev",
            bucket_by="seq", bounds=bounds,
        )
        delta = F.col("close") - F.col("_prev")
        g = lagged.withColumns(
            {
                "_gain": K.when_nullsafe(delta > 0, delta, F.lit(0.0)),
                "_loss": K.when_nullsafe(delta < 0, F.abs(delta), F.lit(0.0)),
            }
        )
        a = halo_rolling_multi(
            g, [("mean", "_gain", "_ag"), ("mean", "_loss", "_al")], 14,
            ("timestamp", "seq"), buckets=64, bucket_by="seq",
            partition_cols=("symbol",), bounds=bounds,
        )
        rsi = 100 - K.safe_div(F.lit(100.0), 1 + K.safe_div(F.col("_ag"), F.col("_al")))
        return a.withColumn("rsi", rsi)

    def timed(label, fn):
        t0 = time.time()
        fn().write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        return label, round(dt, 2), int(n / dt)

    results = {}
    for label, fn in (
        (
            "per_symbol_pipeline",
            lambda: Indicators(
                df, order_by=("timestamp", "seq"), partition_mode="per_symbol"
            )
            .sma(["close"], 20)
            .bollinger_bands(["close"], 20, 2)
            .rsi(["close"], 14)
            .atr(14)
            .collect(),
        ),
        (
            "halo_global_rolling_mean",
            lambda: halo_rolling_multi(
                df, [("mean", "close", "m")], 20, ("timestamp", "seq"),
                buckets=64, bucket_by="seq",
            ),
        ),
        (
            "chunked_global_ewm",
            lambda: ewm_chunked(
                df, "close", 2 / 21, ("timestamp", "seq"), buckets=64, out="e", bucket_by="seq"
            ),
        ),
        (
            "single_task_global_window_baseline",
            lambda: df.withColumn(
                "m",
                F.avg("close").over(
                    __import__("pyspark.sql.window", fromlist=["Window"])
                    .Window.orderBy("timestamp", "seq")
                    .rowsBetween(-19, 0)
                ),
            ),
        ),
        # faithful RSI on a FEW-symbol series (the reference's worst case:
        # global delta = 1 task, per-symbol means = 3 tasks) vs the halo
        # form (halo lag + partitioned halo rolling, parallelism = buckets)
        (
            "rsi_faithful_3sym",
            lambda: Indicators(_few(df), order_by=("timestamp", "seq"))
            .rsi(["close"], 14)
            .collect(),
        ),
        ("rsi_halo_3sym", lambda: _rsi_halo(_few(df), rows)),
    ):
        label, dt, rps = timed(label, fn)
        results[label] = {"sec": dt, "rows_per_sec": rps}

    # ---- skew-join shape: power-law fact ⋈ non-broadcastable dim -------
    # Half the fact rows hit ONE key: a plain shuffle join puts 5M rows on
    # a single reducer. Measured three ways: plain sort-merge (AQE off),
    # salted_join (AQE off), and AQE's adaptive skew split.
    from indicators_spark.functions.joins import salted_join

    n_dim = 100_000
    fact = (
        spark.range(rows)
        .select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.hash(F.col("id")), F.lit(n_dim)))
            .alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        .cache()
    )
    fact.count()
    dim = spark.range(n_dim).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("grp")
    )

    def agg_after(joined):
        return joined.groupBy("grp").agg(F.sum("v").alias("sv"))

    conf = spark.conf
    prev_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for label, aqe, fn in (
            ("skew_plain_join", "false", lambda: agg_after(fact.join(dim, "k"))),
            (
                "skew_salted_join",
                "false",
                lambda: agg_after(salted_join(fact, dim, "k", n_salt=32)),
            ),
            ("skew_aqe_join", "true", lambda: agg_after(fact.join(dim, "k"))),
        ):
            conf.set("spark.sql.adaptive.enabled", aqe)
            label, dt, rps = timed(label, fn)
            results[label] = {"sec": dt, "rows_per_sec": rps}
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        conf.set("spark.sql.adaptive.enabled", prev_aqe)

    # ---- range join: bucketed rewrite vs raw BETWEEN (nested-loop) ------
    # 1M points x 20k intervals, no equi-key: Spark plans the raw BETWEEN
    # as BroadcastNestedLoopJoin (2e10 comparisons at this size); the
    # bucketed rewrite is one equi-shuffle.  The raw variant runs at a
    # 100x smaller point count so it finishes — its rows_per_sec is
    # directly comparable.
    from indicators_spark.functions.joins import range_join

    n_pts = min(rows // 10, 1_000_000)
    pts = (
        spark.range(n_pts)
        .select(
            (F.pmod(F.hash(F.col("id")), F.lit(n_pts * 10))).alias("x"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        .cache()
    )
    pts.count()
    ivals = spark.range(20_000).select(
        (F.col("id") * (n_pts // 2)).alias("lo"),
        (F.col("id") * (n_pts // 2) + F.lit(5000)).alias("hi"),
    )

    def agg_rj(joined):
        return joined.groupBy("lo").agg(F.count(F.lit(1)).alias("c"))

    t0 = time.time()
    agg_rj(
        range_join(pts, ivals, "x", "lo", "hi", bucket_width=5000)
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["range_join_bucketed"] = {"sec": round(dt, 2), "rows_per_sec": int(n_pts / dt)}

    small = pts.limit(n_pts // 100).cache()
    n_small = small.count()
    t0 = time.time()
    agg_rj(
        small.join(ivals, (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["range_join_raw_between_1pct"] = {
        "sec": round(dt, 2),
        "rows_per_sec": int(n_small / dt),
    }

    # ---- k-means assignment: literal-argmin map vs crossjoin+group-min --
    # One Lloyd round (assign + per-dim means) over 16-dim vectors.  The
    # literal-centroid argmin is a pure projection (0 shuffles on the
    # corpus); the crossjoin form amplifies k x and shuffles every full
    # vector through a groupBy(id) — the thing that can't survive 100 TB.
    n_vec = min(rows // 5, 2_000_000)
    kk = 8
    vecs = (
        spark.range(n_vec)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: F.sin(F.col("id") * i.cast("double") / 1000.0),
            ).alias("embedding"),
        )
        .cache()
    )
    vecs.count()
    from indicators_spark.functions.similarity import (
        _argmin_cluster,
        _assign_arrow,
        _quant_vec,
        _sq_dist,
    )

    cents = sorted(
        (int(r[0]), list(r[1]))
        for r in vecs.filter(F.col("vec_id") < kk)
        .select("vec_id", _quant_vec(F.col("embedding")))
        .collect()
    )

    def means_of(assigned):
        return (
            assigned.select("cluster", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("v"))
        )

    def km_literal():
        return means_of(
            vecs.withColumn("cluster", _argmin_cluster(cents, "embedding"))
        )

    def km_crossjoin():
        cent_df = spark.createDataFrame(
            [(c, v) for c, v in cents], "cid int, cvec array<double>"
        )
        scored = vecs.crossJoin(F.broadcast(cent_df)).withColumn(
            "_d", _sq_dist(F.col("embedding"), F.col("cvec"))
        )
        assigned = (
            scored.groupBy("vec_id")
            .agg(
                F.min(F.struct("_d", "cid")).alias("_m"),
                F.any_value("embedding").alias("embedding"),
            )
            .select("vec_id", "embedding", F.col("_m.cid").alias("cluster"))
        )
        return means_of(assigned)

    def km_arrow():
        # the production form kmeans_lloyd now uses: the assign kernel
        # emits the exploded (cluster, pos, val) update input directly
        expl = _assign_arrow(vecs, cents, "vec_id", "embedding", emit="explode")
        return expl.groupBy("cluster", "pos").agg(F.avg("val").alias("v"))

    for label, fn in (
        ("kmeans_round_literal_argmin", km_literal),
        ("kmeans_round_arrow_assign", km_arrow),
        ("kmeans_round_crossjoin_shuffle", km_crossjoin),
    ):
        t0 = time.time()
        fn().write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        results[label] = {"sec": round(dt, 2), "rows_per_sec": int(n_vec / dt)}

    # ---- cosine pair mining: angular band-prune vs raw all-pairs --------
    # Same EXACT output (tests/test_functions.py proves set equality); the
    # banded form replaces the O(n²) BroadcastNestedLoopJoin with an equi
    # hash join on angle buckets.  The raw variant runs on a 10x smaller
    # sample so it finishes — rows_per_sec is directly comparable.
    from indicators_spark.functions.similarity import cosine_pairs

    n_cp = min(rows // 500, 20_000)
    cpv = (
        spark.range(n_cp)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda j: F.when(j == 0, F.sin(F.col("id") / 50.0) * 4.0).otherwise(
                    F.cos(F.col("id") * (j + 1).cast("double") / 997.0) * 0.4
                ),
            ).alias("embedding"),
        )
        .cache()
    )
    cpv.count()

    def cp_agg(pairs):
        return pairs.agg(F.count(F.lit(1)).alias("n"), F.avg("cos").alias("a"))

    t0 = time.time()
    cp_agg(cosine_pairs(cpv, 0.95)).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["cosine_pairs_banded"] = {"sec": round(dt, 2), "rows_per_sec": int(n_cp / dt)}

    small_cp = cpv.limit(n_cp // 10).cache()
    n_small_cp = small_cp.count()
    t0 = time.time()
    cp_agg(
        cosine_pairs(small_cp, 0.95, band_prune=False)
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["cosine_pairs_allpairs_10pct"] = {
        "sec": round(dt, 2),
        "rows_per_sec": int(n_small_cp / dt),
    }

    # ---- corpus text ops: row-local scoring vs shuffle-light passage dup --
    # Synthetic corpus generated in-engine (no driver data): ~30-word docs
    # over a 1k vocab.  quality_score is the zero-shuffle row-local class;
    # duplicate_passage_fraction is the 2-skinny-shuffle class (gram-hash
    # keys); exact dedup is the 1-shuffle hash-groupBy class.
    from indicators_spark.functions.dedup import exact_duplicate_groups
    from indicators_spark.functions.text import (
        duplicate_passage_fraction,
        with_quality_score,
    )

    n_docs = min(rows // 20, 500_000)
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(30)),
                    lambda i: F.concat(
                        F.lit("w"),
                        F.pmod(F.hash(F.col("id") * 31 + i), F.lit(1000)).cast(
                            "string"
                        ),
                    ),
                ),
            ).alias("text"),
        )
        .cache()
    )
    docs.count()
    for label, fn in (
        ("text_quality_rowlocal", lambda: with_quality_score(docs)),
        ("text_passage_dup_mass", lambda: duplicate_passage_fraction(docs, n=10)),
        ("text_exact_dedup", lambda: exact_duplicate_groups(docs)),
    ):
        t0 = time.time()
        fn().write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        results[label] = {"sec": round(dt, 2), "rows_per_sec": int(n_docs / dt)}

    # ---- PQ encode + covariance: the Arrow fold-exact kernel class ------
    # Synthetic 64-dim embeddings generated in-engine.  pq_encode is the
    # zero-shuffle mapInPandas argmin grid (the billion-row ANN index
    # build); covariance_matrix ships dim^2/2 partial moments per
    # partition instead of n*dim^2 exploded pair rows — the naive
    # posexplode self-join form is measured on a 10x smaller sample for a
    # directly comparable rows_per_sec.
    from indicators_spark.functions.similarity import (
        covariance_matrix,
        pq_encode,
    )

    n_vec = min(rows // 20, 500_000)
    emb = (
        spark.range(n_vec)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda j: (
                    F.sin(F.col("id") * j.cast("double") / 997.0) * 0.5
                ).cast("float"),
            ).alias("embedding"),
        )
        .cache()
    )
    emb.count()

    t0 = time.time()
    pq_encode(emb, n_sub=8, n_codes=16).write.mode("overwrite").format(
        "noop"
    ).save()
    dt = time.time() - t0
    results["pq_encode_arrow"] = {
        "sec": round(dt, 2),
        "rows_per_sec": int(n_vec / dt),
    }

    t0 = time.time()
    covariance_matrix(emb, dim=64).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["covariance_partials"] = {
        "sec": round(dt, 2),
        "rows_per_sec": int(n_vec / dt),
    }

    small_emb = emb.limit(n_vec // 10).cache()
    n_se = small_emb.count()
    x = small_emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xi")
    )
    xa = x.select("vec_id", F.col("i").alias("ia"), F.col("xi").alias("xa"))
    xb = x.select("vec_id", F.col("i").alias("ib"), F.col("xi").alias("xb"))
    naive = (
        xa.join(xb, "vec_id")
        .filter(F.col("ib") >= F.col("ia"))
        .groupBy("ia", "ib")
        .agg(F.avg(F.col("xa").cast("double") * F.col("xb")).alias("exy"))
    )
    t0 = time.time()
    naive.write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["covariance_explode_join_10pct"] = {
        "sec": round(dt, 2),
        "rows_per_sec": int(n_se / dt),
    }

    # ---- PageRank superstep throughput over a synthetic edge list --------
    # 20 out-edges per node via hash; 3 supersteps.  State stays |V| rows;
    # the measured cost is the per-iteration edge shuffle - the number that
    # decides web-scale feasibility.
    from indicators_spark.functions.graph import pagerank

    n_edges = min(rows // 2, 5_000_000)
    n_nodes = max(n_edges // 20, 1)
    edges = (
        spark.range(n_edges)
        .select(
            (F.col("id") % n_nodes).alias("src"),
            F.pmod(F.hash(F.col("id")), F.lit(n_nodes)).alias("dst"),
        )
        .cache()
    )
    edges.count()
    t0 = time.time()
    pagerank(edges, iters=3, broadcast_ranks=False).agg(
        F.sum("rank").alias("s")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["pagerank_3_supersteps"] = {
        "sec": round(dt, 2),
        "edges_per_sec_per_iter": int(3 * n_edges / dt),
    }

    # ---- LPA superstep throughput over the same synthetic edge list -----
    # Community detection's per-iteration cost: one edges⋈labels join +
    # a (node,label) weight sum + per-node argmax — all map-side combined.
    from indicators_spark.functions.graph import label_propagation

    t0 = time.time()
    label_propagation(edges, iters=3).agg(
        F.count_distinct("label").alias("c")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["lpa_3_supersteps"] = {
        "sec": round(dt, 2),
        # undirected: each superstep scans the reversed union (2·|E|)
        "edges_per_sec_per_iter": int(3 * 2 * n_edges / dt),
    }

    # ---- MinHash LSH band join throughput (the dedup candidate path) ----
    # shingle → k=8 minhash signature → 4 bands of 2 rows → bucket
    # self-join (the library defaults).  The corpus is the same synthetic
    # doc set; measured end-to-end to the candidate-pair count — the
    # number that decides billion-doc dedup.
    from indicators_spark.functions.dedup import minhash_lsh_candidates

    t0 = time.time()
    minhash_lsh_candidates(docs).agg(
        F.count(F.lit(1)).alias("c")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["minhash_lsh_band_join"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- approx dispatch payoff: exact vs HLL distinct, exact vs t-digest
    # percentile, on the full synthetic series (high-cardinality `seq`,
    # continuous `close`).  The exact forms pay a distinct-expand shuffle /
    # a sort-based percentile buffer; the sketches are one map-side pass —
    # this pair is the measured basis for approx.py's APPROX_MIN_ROWS.
    from indicators_spark.approx import count_distinct_auto, percentile_auto

    for label, min_rows in (
        ("profile_exact_distinct_pctl", 10**12),  # force exact branch
        ("profile_hll_tdigest", 0),               # force sketch branch
    ):
        t0 = time.time()
        df.agg(
            count_distinct_auto("seq", n_rows=n, min_rows=min_rows).alias("d"),
            percentile_auto("close", 0.5, n_rows=n, min_rows=min_rows).alias("m"),
            percentile_auto("close", 0.99, n_rows=n, min_rows=min_rows).alias("p"),
        ).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        results[label] = {"sec": round(dt, 2), "rows_per_sec": int(n / dt)}

    # ---- ExactSubstr substring dedup (round 5) --------------------------
    # The same synthetic doc set (30 words/doc, 1000-word vocab → heavy
    # repeated 10-grams).  Cost drivers at scale: one posexplode (~21
    # positions/doc), ONE gram-hash window exchange, one doc-keyed merge —
    # linear in corpus positions, quadratic in nothing.  docs_per_sec
    # flat across corpus sizes = the 100 TB claim holds.
    from indicators_spark.functions.dedup import substring_dup_spans

    t0 = time.time()
    substring_dup_spans(docs, n=10).agg(
        F.count(F.lit(1)).alias("c")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["substring_dedup_spans"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- DSIR importance weights over the synthetic corpus --------------
    # Feature hashing is scan-side; each distribution is one groupBy with
    # <=1024 output rows whatever the corpus size; the ratio broadcast +
    # ONE doc-keyed reduce produce the weights.  docs_per_sec ~flat with
    # corpus growth = the 100 TB claim.
    from indicators_spark.functions.sampling import dsir_log_weights

    target = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    t0 = time.time()
    dsir_log_weights(docs, target).agg(
        F.count(F.lit(1)).alias("c")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["dsir_log_weights"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- ExactSubstr on a SKEWED corpus: the max_df_frac guard ----------
    # 30% of docs share one verbatim 14-word boilerplate block — its grams
    # each put 0.3·n_docs rows on ONE window key (the posting-list hot key
    # that stalls a 1000-executor stage).  max_df_frac=0.01 prunes those
    # grams before the occurrence window via a broadcast anti-join.
    # READ THE PAIR HONESTLY: the guard costs one extra pass over the
    # positioned grams (the df aggregate re-derives them — skew-free by
    # construction: its partial state is HLL-style (gh,_id) dedup, never
    # a posting list).  At local scale the hot key holds ~0.3·n_docs rows
    # — far below any task's stall point — so the guarded run shows pure
    # overhead; the guard wins when frac·N posting-list rows exceed what
    # one task can sort/hold (≈10⁷+), where the unguarded window stalls
    # or spills and the guarded one simply doesn't contain the key.
    boiler = " ".join(f"bp{i}" for i in range(14))
    skewed = docs.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(10)) < 3,
            F.concat(F.lit(boiler + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).cache()
    skewed.count()
    for label, frac in (
        ("substring_spans_skewed_unguarded", None),
        ("substring_spans_skewed_maxdf", 0.01),
    ):
        t0 = time.time()
        substring_dup_spans(skewed, n=10, max_df_frac=frac).agg(
            F.count(F.lit(1)).alias("c")
        ).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        results[label] = {
            "sec": round(dt, 2),
            "docs_per_sec": int(n_docs / dt),
        }
    skewed.unpersist()

    # ---- corpus-wide line dedup (round 7b) -------------------------------
    # Docs re-lineified to ~6 lines each; vocab repetition makes ~every
    # line a duplicate somewhere, so the dup set / rebuild paths carry
    # real weight.  Only (id, pos, 16-byte hash) shuffles — docs_per_sec
    # flat with corpus growth = the 100 TB claim.  The hot-key question
    # doesn't arise: the line-hash groupBy aggregates COUNTS (map-side
    # partials), never a posting list, so a corpus-wide boilerplate line
    # is just one cell.
    from indicators_spark.functions.dedup import line_dedup_global

    lined = docs.select(
        "doc_id", F.regexp_replace("text", r"((\S+\s+){4}\S+)\s+", "$1\n").alias("text")
    ).cache()
    lined.count()
    t0 = time.time()
    line_dedup_global(lined).agg(
        F.sum("n_removed").alias("s")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["line_dedup_global"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }
    # intra-doc keep-first twin (round 9): same skinny explode, repeat
    # positions from one per-doc window, no corpus-wide state — its
    # docs_per_sec should sit at-or-above the global pass's (no dup-set
    # join at all)
    from indicators_spark.functions.dedup import line_dedup_within_doc

    t0 = time.time()
    line_dedup_within_doc(lined).agg(
        F.sum("n_removed").alias("s")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["line_dedup_within_doc"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }
    lined.unpersist()

    # ---- winnowing fingerprints + pair join (round 7b) -------------------
    # Fingerprinting is one bounded-frame window per doc; the pair join is
    # the posting-list shape with the max_df_frac boilerplate guard.
    from indicators_spark.functions.dedup import winnow_pairs

    t0 = time.time()
    winnow_pairs(docs, min_shared=2).agg(
        F.count(F.lit(1)).alias("c")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["winnow_pairs"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- hashed-feature logistic classifier (round 7b) ------------------
    # 3 full-batch GD steps: per step one doc-keyed margin agg + one
    # 257-row gradient collect.  Cost is ~7 passes over the persisted
    # feature table — linear in corpus tokens, driver state O(buckets).
    from indicators_spark.functions.classifier import logreg_quality

    t0 = time.time()
    logreg_quality(
        docs, label=(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    ).agg(F.sum("pred").alias("s")).write.mode("overwrite").format(
        "noop"
    ).save()
    dt = time.time() - t0
    results["classifier_logreg_3step"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- cluster-keyed selection ops (round 7b / VERDICT r7 #5) ----------
    # dedup_cc_keep_best and split_leakage_safe both RIDE the CC output;
    # the claim is "one extra component-keyed aggregate / one row-local
    # hash over the cluster table" — so measure the shared LSH+CC base
    # first, then each rider end-to-end: rider_sec − base_sec is the
    # marginal cost the claim is about.
    from indicators_spark.functions.dedup import (
        lsh_dedup_clusters,
        lsh_dedup_keep_best,
    )
    from indicators_spark.functions.sampling import HASH_DEN, hash_bucket

    t0 = time.time()
    lsh_dedup_clusters(docs).agg(
        F.count(F.lit(1)).alias("c")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["lsh_cc_clusters_base"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    quality = docs.select(
        "doc_id",
        (F.pmod(F.hash("doc_id"), F.lit(1000)).cast("double") / 1000).alias(
            "quality"
        ),
    )
    t0 = time.time()
    lsh_dedup_keep_best(docs, quality).agg(
        F.sum(F.col("is_canonical").cast("long")).alias("s")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["cc_keep_best"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    def leakage_split():
        cl = lsh_dedup_clusters(docs).select("doc_id", "component")
        b = hash_bucket(F.col("component"), "ls-bench")
        val_cut = HASH_DEN // 10
        test_cut = val_cut + HASH_DEN // 10
        return cl.select(
            "doc_id",
            F.when(b < val_cut, F.lit("val"))
            .when(b < test_cut, F.lit("test"))
            .otherwise(F.lit("train"))
            .alias("split"),
        ).groupBy("split").agg(F.count(F.lit(1)).alias("c"))

    t0 = time.time()
    leakage_split().write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["cc_leakage_split"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- training-sequence packing (round 8) -----------------------------
    # concat-and-chunk layout over the synthetic corpus: md5-order hash
    # bucketing + global_cum_sum (two skinny exchanges, no global sort),
    # exploded to the (doc, seq) shard manifest.  docs_per_sec ~flat or
    # rising with corpus growth = the 100 TB claim.
    from indicators_spark.functions.sampling import pack_token_stream

    t0 = time.time()
    pack_token_stream(docs, 2048, explode=True).agg(
        F.sum("n_tokens_in_seq").alias("s")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["pack_token_stream"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- BPE merge learning (round 9) -------------------------------------
    # One corpus scan builds the frequency-weighted vocab, then each of
    # the 4 merge steps runs on the VOCAB-sized state — step cost is
    # bounded by distinct words, not corpus rows, so docs_per_sec should
    # RISE with corpus growth (the vocab saturates).
    from indicators_spark.functions.text import bpe_learn_merges

    t0 = time.time()
    bpe_learn_merges(docs, n_merges=4).write.mode("overwrite").format(
        "noop"
    ).save()
    dt = time.time() - t0
    results["bpe_learn_4merges"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- k-center greedy selection (round 9) ------------------------------
    # Gonzalez on the cached 16-dim vector table, BOTH forms: the
    # literal-chain form's step t evaluates a t-term least() chain
    # (O(k²·n·d) total — sec_per_step GROWS with k; zero
    # materialization, wins at small k), the carry form materializes the
    # running min per superstep (O(k·n·d) — sec_per_step flat; wins once
    # k clears the checkpoint overhead).  k16 is measured in both forms
    # to pin the crossover; bit-parity pinned in tests/test_kcenter.py.
    # At extreme scale the selection runs on a KMV/uniform sample, same
    # shape either way.
    from indicators_spark.functions.similarity import kcenter_select

    # NOT n_vec: that name was reassigned to the 500k PQ table at line
    # ~404, while `vecs` still holds the 2M-row 16-dim table (r9 review
    # caught the 4× understatement)
    n_kc = min(rows // 5, 2_000_000)
    for kc_k, kc_carry in ((4, False), (8, False), (16, False), (16, True)):
        t0 = time.time()
        kcenter_select(vecs, k=kc_k, carry_min=kc_carry).write.mode(
            "overwrite"
        ).format("noop").save()
        dt = time.time() - t0
        tag = "carry" if kc_carry else "chain"
        results[f"kcenter_select_k{kc_k}_{tag}"] = {
            "sec": round(dt, 2),
            "sec_per_step": round(dt / kc_k, 3),
            "rows_per_step_sec": int(n_kc * kc_k / dt),
        }

    # ---- ingest-store compaction: probe cost vs epoch count (round 9) ----
    # The compact_store claim (VERDICT r8 #4): the per-epoch probe join
    # reads the whole committed store, so WITHOUT compaction its cost
    # grows with epoch count (a union scan over E dirs, duplicate keys
    # uncombined); after compaction the store is ONE pre-aggregated dir,
    # so the next epoch's ingest should cost no more than the early ones
    # — the probe side stops growing with epoch count.
    import shutil
    import tempfile

    from indicators_spark.streaming import LineDedupIngestSink

    liney = docs.select(
        "doc_id",
        F.regexp_replace(
            "text", r"((\S+\s+){4}\S+)\s+", "$1\n"
        ).alias("text"),
    ).cache()
    liney.count()
    # epochs+2 equal fresh slices: slices 0..epochs-1 ingest uncompacted,
    # slice `epochs` ingests right after compaction, slice epochs+1 after
    # a second compaction — every timed epoch sees a FRESH doc set, so
    # the probe-side store shape is the only thing that varies (an
    # epoch replaying known docs would instead measure the heavier
    # all-lines-duplicate rewrite path — confounded).
    epochs = 8
    slices = epochs + 2
    root = tempfile.mkdtemp(prefix="bench-compact-")
    sink = LineDedupIngestSink(root, min_df=2)
    ep_secs = []
    for e in range(epochs):
        batch = liney.filter(F.col("doc_id") % slices == e)
        t0 = time.time()
        sink(batch, e)
        ep_secs.append(round(time.time() - t0, 2))
    t0 = time.time()
    folded = sink.compact_store(spark)
    compact_sec = round(time.time() - t0, 2)
    t0 = time.time()
    sink(liney.filter(F.col("doc_id") % slices == epochs), epochs)
    post_sec = round(time.time() - t0, 2)
    # steady state: fold the one fresh dir in, ingest another epoch
    sink.compact_store(spark)
    t0 = time.time()
    sink(liney.filter(F.col("doc_id") % slices == epochs + 1), epochs + 1)
    post2_sec = round(time.time() - t0, 2)
    shutil.rmtree(root, ignore_errors=True)
    liney.unpersist()
    results["line_sink_compaction"] = {
        "epoch_docs": int(n_docs // slices),
        "epoch_secs": ep_secs,          # growth across 8 uncompacted epochs
        "compact_sec": compact_sec,     # one-time fold of 8 dirs
        "dirs_folded": folded,
        "post_compact_epoch_sec": post_sec,   # probe vs ONE folded dir
        "post_recompact_epoch_sec": post2_sec,
    }

    # ---- drift alarms: KS vs PSI on the same slice column (round 10) -----
    # KS reduces the corpus in ONE wide pass (the (group,value) cell
    # agg); PSI pays TWO — an exact-quantile pass for the pool's decile
    # edges, then the (group,bin) cell agg — so expect PSI ≈ 2× KS's
    # wall clock here (measured 2.5 s vs 1.4 s at 10k docs; swap
    # F.percentile_approx in at real scale to shrink pass 1).  PSI's
    # advantage is STATE, not speed: its cell table is groups×bins by
    # construction, where KS's is groups×distinct-values (why
    # continuous columns get pre-bucketed for KS).  docs_per_sec ~flat
    # with corpus growth = the 100 TB claim for both.
    from indicators_spark.functions.drift import (
        ks_drift_by_group,
        psi_drift_by_group,
    )

    slices_df = docs.select(
        "doc_id",
        F.concat(F.lit("src"), F.pmod(F.col("doc_id"), F.lit(16)).cast("string")).alias("source"),
        F.length("text").alias("n_chars"),
    ).cache()
    slices_df.count()
    for label, fn in (
        ("drift_psi_16src", lambda: psi_drift_by_group(slices_df, "n_chars", "source")),
        ("drift_ks_16src", lambda: ks_drift_by_group(slices_df, "n_chars", "source")),
    ):
        t0 = time.time()
        fn().write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        results[label] = {"sec": round(dt, 2), "docs_per_sec": int(n_docs / dt)}
    slices_df.unpersist()

    # ---- BPE encoding with a learned table (round 10) ---------------------
    # The production split: train once (vocab-bounded, measured above),
    # encode the whole corpus with the Arrow rank-dict UDF — at k=96 on a
    # synthetic rank-monotone table built from the learned seed (a real
    # tokenizer's merge-file regime).  Encoding is row-local —
    # docs_per_sec flat with corpus growth = the 100 TB claim.
    from indicators_spark.functions.text import bpe_apply_merges

    learned = [
        r["pair"]
        for r in bpe_learn_merges(docs, n_merges=4).orderBy("rank").collect()
    ]
    # extend to a rank-monotone synthetic table: merge each learned
    # token with a fresh single char (never creates earlier pairs)
    big_table = list(learned)
    alphabet = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    merged_syms = [p.replace(" ", "") for p in learned]
    i = 0
    while len(big_table) < 96:
        big_table.append(f"{merged_syms[i % len(merged_syms)]} {alphabet[i % 26]}")
        merged_syms.append(big_table[-1].replace(" ", ""))
        i += 1
    t0 = time.time()
    bpe_apply_merges(docs, big_table).agg(
        F.sum("bpe_tokens").alias("s")
    ).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    results["bpe_encode_96merges_udf"] = {
        "sec": round(dt, 2), "docs_per_sec": int(n_docs / dt)
    }

    # ---- prefix-filtered Jaccard vs plain posting-list join (round 10) ----
    # Near-dup-structured corpus in the regime the prefix filter exists
    # for: clusters of 5 docs share 28 of 30 words, and 15 of those come
    # from a SMALL (500-token) common vocabulary — df ≈ corpus/33, the
    # moderately-common mass every real corpus has.  The plain operator's
    # self-join emits ~Σ df² rows, dominated by exactly those tokens;
    # prefix filtering joins only each doc's p = |d|−⌈τ|d|⌉+1 RAREST
    # tokens (here the unique + cluster-specific ones, df ≤ ~6), so the
    # common-token mass never enters the candidate join and the gap
    # WIDENS quadratically with corpus size.  (On a corpus with no
    # common tokens — tiny df everywhere — prefix's extra rank/position
    # passes cost MORE than the join they save; measured 5.1 s vs 1.8 s
    # at 3.3k all-rare docs, which is why the operator documents itself
    # as the common-token-regime form, not a universal replacement.)
    # Both operators are pinned output-identical in tests.
    from indicators_spark.functions.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    def _jtok(kind: str, seed, vocab: int):
        return lambda i: F.concat(
            F.lit(kind), F.pmod(F.hash(seed * 131 + i), F.lit(vocab)).cast("string")
        )

    n_j = min(max(rows // 100, 3_000), 30_000)
    for nd in (n_j // 3, n_j):
        cluster = F.col("id") - F.pmod(F.col("id"), F.lit(5))
        jdocs = (
            spark.range(nd)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    # 15 cluster-shared tokens from the COMMON 500-vocab
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.sequence(F.lit(1), F.lit(15)),
                            _jtok("c", cluster, 500),
                        ),
                    ),
                    # 13 cluster-specific rare tokens (df = 5)
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.sequence(F.lit(16), F.lit(28)),
                            _jtok("k", cluster, 50_000),
                        ),
                    ),
                    # 2 unique-ish tokens per doc (df ~ 1)
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.sequence(F.lit(1), F.lit(2)),
                            _jtok("u", F.col("id") * 977, 50_000),
                        ),
                    ),
                ).alias("text"),
            )
            .cache()
        )
        jdocs.count()
        for label, op in (
            (f"jaccard_plain_{nd}", ngram_jaccard_pairs),
            (f"jaccard_prefix_{nd}", jaccard_prefix_pairs),
        ):
            t0 = time.time()
            npairs = op(jdocs, threshold=0.8).count()
            dt = time.time() - t0
            results[label] = {
                "sec": round(dt, 2),
                "docs_per_sec": int(nd / dt),
                "pairs": npairs,
            }
        jdocs.unpersist()

    # ---- R–S fuzzy-decontamination join (round 10) -------------------------
    # Corpus vs a 2% "benchmark" slice of the same near-dup-structured
    # corpus.  The asymmetric win: candidates are bounded by benchmark
    # prefix tokens × their crawl df, so wall should track the CORPUS
    # linearly (one prefix/rank pass over it) rather than quadratically.
    from indicators_spark.functions.dedup import jaccard_join_prefix

    cluster = F.col("id") - F.pmod(F.col("id"), F.lit(5))
    rs_docs = (
        spark.range(n_j)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(15)),
                        _jtok("c", cluster, 500),
                    ),
                ),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(16), F.lit(28)),
                        _jtok("k", cluster, 50_000),
                    ),
                ),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(2)),
                        _jtok("u", F.col("id") * 977, 50_000),
                    ),
                ),
            ).alias("text"),
        )
        .cache()
    )
    rs_docs.count()
    bench_side = rs_docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    corpus_side = rs_docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
    t0 = time.time()
    n_hits = jaccard_join_prefix(
        corpus_side, bench_side, threshold=0.8
    ).count()
    dt = time.time() - t0
    results[f"jaccard_rs_join_{n_j}"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_j / dt),
        "pairs": n_hits,
    }
    rs_docs.unpersist()

    # ---- per-group quantile normalization (round 10) ----------------------
    # Both rank passes ride the range-bucket kernels (grouped/global
    # row_number): per-pass cost is one scan + a ≤groups·buckets offset
    # broadcast, so docs_per_sec should hold ~flat as the corpus grows
    # — that flatness is the 100 TB claim (a per-source window form
    # would serialize each source into one task instead).
    from indicators_spark.functions.sampling import (
        quantile_normalize_by_group,
    )

    for nd in (n_docs // 10, n_docs):
        qn_df = docs.limit(nd).select(
            "doc_id",
            F.concat(
                F.lit("src"), F.pmod(F.col("doc_id"), F.lit(8)).cast("string")
            ).alias("source"),
            F.length("text").alias("n_chars"),
        ).cache()
        qn_df.count()
        t0 = time.time()
        quantile_normalize_by_group(
            qn_df, "n_chars", "source", "doc_id"
        ).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        results[f"quantile_normalize_{nd}"] = {
            "sec": round(dt, 2),
            "docs_per_sec": int(nd / dt),
        }
        qn_df.unpersist()

    # ---- distributed selection: exact median, global and per-group --------
    # kth_element resolves the 10M-row series median in 1-2 histogram
    # passes + a residue aggregate; the grouped form answers "exact
    # median per source" for 16 sources in the SAME number of rounds
    # (shared (group,bucket) histogram scans — more groups, same passes).
    from indicators_spark.scale import kth_element, kth_element_by_group

    t0 = time.time()
    kth_element(df, "close", (n + 1) // 2, final_rows=100_000)
    dt = time.time() - t0
    results["select_median_global"] = {
        "sec": round(dt, 2),
        "rows_per_sec": int(n / dt),
    }
    sel_df = docs.select(
        "doc_id",
        F.concat(
            F.lit("src"), F.pmod(F.col("doc_id"), F.lit(16)).cast("string")
        ).alias("source"),
        F.length("text").alias("n_chars"),
    )
    t0 = time.time()
    kth_element_by_group(
        sel_df, "n_chars", "source", frac=0.5, final_rows=10_000
    ).count()
    dt = time.time() - t0
    results["select_median_16groups"] = {
        "sec": round(dt, 2),
        "docs_per_sec": int(n_docs / dt),
    }

    # ---- fluent-API halo dispatch (core.py, r11) ---------------------------
    # The compat surface itself at scale: Indicators(df).rsi() on a
    # symbol-less 10M-row frame auto-engages the halo session (no
    # SinglePartition window) vs the plain form pinned off — the measured
    # gap is what a defaulting caller now gets for free.
    single = df.drop("symbol")
    for label, halo in (("fluent_rsi_halo_auto", None), ("fluent_rsi_plain", False)):
        t0 = time.time()
        Indicators(single, order_by=("timestamp", "seq"), halo=halo).rsi(
            ["close"], 14
        ).sma(["close"], 20).collect().write.mode("overwrite").format(
            "noop"
        ).save()
        dt = time.time() - t0
        results[label] = {"sec": round(dt, 2), "rows_per_sec": int(n / dt)}
    # per_symbol mode on a FEW-symbol frame: the FORCED halo session
    # (auto correctly stays plain below PER_KEY_HALO_MIN_ROWS/symbol —
    # measured: the plain form's #symbols-way parallelism beats the
    # session's ~4 build exchanges at this size; this entry tracks the
    # mechanism's cost so the crossover claim stays falsifiable)
    few = _few(df)
    for label, halo in (
        ("fluent_persym3_halo_forced", True),
        ("fluent_persym3_plain", False),
    ):
        t0 = time.time()
        Indicators(
            few,
            order_by=("timestamp", "seq"),
            partition_mode="per_symbol",
            halo=halo,
        ).rsi(["close"], 14).sma(["close"], 20).collect().write.mode(
            "overwrite"
        ).format("noop").save()
        dt = time.time() - t0
        results[label] = {"sec": round(dt, 2), "rows_per_sec": int(n / dt)}

    # ---- BPE encode at production merge-table size ------------------------
    # A tokenizer-encode pass is the single most common 100 TB-pipeline
    # operation.  This measures bpe_apply_merges' Arrow-batched rank-dict
    # UDF at 64 and at the production-shaped 10k merges.  The table is a
    # synthetic rank-monotone 10k-entry hierarchy over the corpus alphabet
    # (level 1: all single-char pairs; level 2: pairs of level-1 symbols —
    # later merges can only create adjacencies of their own new symbol, so
    # the trainer-format precondition holds by construction).
    from indicators_spark.functions.text import bpe_apply_merges

    _syms = ["w"] + [str(d) for d in range(10)]
    _lvl1 = [f"{a} {b}" for a in _syms for b in _syms]
    _two = [a + b for a in _syms for b in _syms]
    _lvl2 = [f"{a} {b}" for a in _two for b in _two]
    merges_10k = (_lvl1 + _lvl2)[:10_000]
    for label, table in (
        ("bpe_encode_udf_64", merges_10k[:64]),
        ("bpe_encode_udf_10k", merges_10k),
    ):
        t0 = time.time()
        bpe_apply_merges(docs, table).select(
            "doc_id", "bpe_tokens"
        ).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        results[label] = {
            "sec": round(dt, 2),
            "docs_per_sec": int(n_docs / dt),
            "merges": len(table),
        }

    print(json.dumps({"rows": n, "symbols": symbols, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
