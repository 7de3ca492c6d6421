"""Corpus family: near-dup *clustering* (pairs → connected components →
canonical doc), exact-substring, line, winnowing, containment and
prefix-filtered Jaccard dedup, decontamination, heuristic and learned
quality filters (Gopher, C4, CCNet buckets, logistic-regression
classifier, ensembles, quantile normalisation), BM25 relevance search,
bigram-LM perplexity, and BPE training and encoding.

Near-dup clustering completes the training-data-pipeline story: the ext
family finds near-dup PAIRS; real dedup keeps one doc per connected
CLUSTER.  The oracle replays the component computation with a recursive CTE
(label-reachability to fixpoint), which matches the Spark side exactly
because min-label propagation is also run to fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dedup, sampling, similarity, sketches, text
from ..kernels import safe_div
from ..sources.prices import load_table
from ._base import Query, _docs, _dot_sql, _norm_sql, _r, _register, round4
from .ext import _minhash_ctes, _minhash_sig_ctes


# --------------------------------------------------------------------- #
# Near-dup clusters: LSH pairs -> connected components -> canonical doc
# --------------------------------------------------------------------- #

_CC_SQL = f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (
  SELECT ia, ib FROM cand GROUP BY ia, ib
),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs
  UNION ALL
  SELECT ib AS a, ia AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS lab FROM edges
  UNION
  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (
  SELECT id, min(lab) AS component FROM reach GROUP BY id
),
alldocs AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM alldocs GROUP BY component
)
SELECT f.doc_id, f.component, s.cluster_size,
  f.doc_id = f.component AS is_canonical
FROM alldocs f JOIN sizes s USING (component)"""

_register(
    "dedup_cc_clusters",
    Query(
        spark=lambda s, d: dedup.lsh_dedup_clusters(_docs(s, d)),
        sql=_CC_SQL,
    ),
)


# --------------------------------------------------------------------- #
# BM25 relevance search (fixed query, deterministic top-k)
# --------------------------------------------------------------------- #

#: The search query (terms from the corpus vocabulary) and BM25 constants.
BM25_TERMS: tuple[str, ...] = ("hash", "join", "vector")
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 20


def bm25_topk(
    df: DataFrame,
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi-BM25 document ranking for a fixed term set, fully
    distributed and cross-engine bit-exact:

    * per-doc term frequencies come from ONE pass over the token explode
      (conditional sums — no per-term scans);
    * corpus stats (N, avgdl, per-term df) are a 1-row / k-row aggregate
      joined back by broadcast — the only "global" data;
    * the score is a FIXED-ORDER sum of per-term contributions (literal
      expression, not an aggregate), so both engines produce identical
      doubles and the rank tie-break (score desc, doc_id) agrees.

    Scale shape: token explode + one groupBy(doc) — same cost class as
    the text stats; no join ever carries document text.
    """
    ws = text.words(F.col(text_col))
    base = df.select(
        F.col(id_col), F.size(ws).alias("dl"), F.explode(ws).alias("tok")
    )
    tf_aggs = [
        F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = base.groupBy(id_col).agg(F.first("dl").alias("dl"), *tf_aggs)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        contribs.append(idf * safe_div(tf * (k1 + 1.0), denom))
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    # Global top-k WITHOUT an unpartitioned row_number window (which would
    # serialize the whole corpus through one task).  orderBy().limit(k)
    # plans as TakeOrderedAndProject: per-partition size-k heaps + a tiny
    # driver-side merge — the only scale-safe global top-k shape
    # (tests/test_plans.py pins it).  The rank window then runs over just
    # the k surviving rows.
    top = (
        scored.select(F.col(id_col), F.col("dl"), score.alias("_s"))
        .orderBy(F.col("_s").desc(), F.col(id_col))
        .limit(topk)
    )
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("_s").desc(), F.col(id_col))),
    ).select(id_col, "dl", "rank", round4(F.col("_s")).alias("bm25"))


def _bm25_sql() -> str:
    terms = BM25_TERMS
    k1, b = BM25_K1, BM25_B
    tf_aggs = ", ".join(
        f"sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_aggs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    contribs = " + ".join(
        f"(ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * CASE WHEN (CAST(tf{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b} *"
        f" dl / avgdl)) = 0 THEN NULL ELSE CAST(tf{i} AS DOUBLE) * ({k1} + 1.0)"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
        f" END)"
        for i in range(len(terms))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
per_doc AS (
  SELECT doc_id, first(dl) AS dl, {tf_aggs} FROM base GROUP BY doc_id
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_aggs} FROM per_doc
),
ranked AS (
  SELECT doc_id, dl, ({contribs}) AS _s,
    row_number() OVER (ORDER BY ({contribs}) DESC, doc_id) AS rank
  FROM per_doc, stats
)
SELECT doc_id, dl, rank, {_r("_s", "bm25")}
FROM ranked WHERE rank <= {BM25_TOPK}"""


_register(
    "bm25_search",
    Query(spark=lambda s, d: bm25_topk(_docs(s, d)), sql=_bm25_sql()),
)


# --------------------------------------------------------------------- #
# Bigram-LM perplexity scoring (CCNet-style corpus quality gate)
# --------------------------------------------------------------------- #


def lm_perplexity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Score each document's cross-entropy under an add-one-smoothed
    bigram LM trained on the corpus itself — the classic
    perplexity-based quality filter for LLM training data (docs the
    corpus LM finds surprising are outliers/noise).

    Distributed shape: the LM is two tiny count tables — bigram counts
    (vocab² rows) and unigram counts (vocab rows) — built with one
    groupBy each; scoring joins them back by BROADCAST, so the corpus
    rows never shuffle.  At 100 TB with a real vocab you'd hash the LM
    into buckets, but the structure (train = skinny agg, score =
    broadcast join) is exactly how it scales.
    """
    ws = text.words(F.col(text_col))
    # <2-token docs have no bigrams and drop out (sequence(1, 0) would
    # DESCEND and index past the array under ANSI — same guard as
    # text.word_ngrams).  Tokens materialize as a column first (no CSE
    # inside lambdas — an inline split() re-tokenizes per element_at).
    doc_bg = (
        df.select(F.col(id_col), ws.alias("_ws"))
        .select(
            F.col(id_col),
            F.explode(text.word_bigram_structs(F.col("_ws"))).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c12 = doc_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = doc_bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        df.select(F.explode(ws).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    neg_logp = -F.log(
        (F.col("c12") + 1.0) / (F.col("c1") + F.col("v").cast("double"))
    )
    return (
        doc_bg.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round4(F.avg(neg_logp)).alias("cross_entropy"),
        )
    )


_LM_SQL = """
WITH doc_bg AS (
  SELECT doc_id,
    string_split(text, ' ')[i] AS w1,
    string_split(text, ' ')[i + 1] AS w2
  FROM documents,
    LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')))) AS i) s
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM doc_bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM doc_bg GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
)
SELECT d.doc_id, count(*) AS n_bigrams,
  {avg_ce}
FROM doc_bg d JOIN c12 USING (w1, w2) JOIN c1 USING (w1), vocab
GROUP BY d.doc_id""".format(
    avg_ce=_r(
        "avg(-ln((c12 + 1.0) / (c1 + CAST(v AS DOUBLE))))", "cross_entropy"
    )
)

_register(
    "lm_perplexity",
    Query(spark=lambda s, d: lm_perplexity(_docs(s, d)), sql=_LM_SQL),
)


# --------------------------------------------------------------------- #
# Repetition signals + benchmark decontamination (Gopher/PaLM-style)
# --------------------------------------------------------------------- #

_register(
    "text_repetition",
    Query(
        spark=lambda s, d: text.repetition_signals(_docs(s, d)).select(
            "doc_id",
            round4(F.col("dup_word_frac")).alias("dup_word_frac"),
            round4(F.col("top_bigram_frac")).alias("top_bigram_frac"),
        ),
        sql=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
rowstats AS (
  SELECT doc_id,
    1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac
  FROM w
),
bg AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM w WHERE len(ws) >= 2
),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
ba AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS tot_bg FROM bc GROUP BY doc_id)
SELECT r.doc_id, {_r('r.dup_word_frac', 'dup_word_frac')},
  {_r('CAST(a.top_bg AS DOUBLE) / a.tot_bg', 'top_bigram_frac')}
FROM rowstats r JOIN ba a USING (doc_id)""",
    ),
)


#: Decontamination fixture: docs 0..9 stand in for the benchmark/eval set,
#: the rest are "training" docs screened against their 5-gram shingles.
DECON_N, DECON_BENCH_MAX_ID = 5, 10


def _decontaminate_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < DECON_BENCH_MAX_ID)
    train = docs.filter(F.col("doc_id") >= DECON_BENCH_MAX_ID)
    return text.decontaminate_flags(train, bench, n=DECON_N)


_register(
    "decontaminate_ngram",
    Query(
        spark=_decontaminate_spark,
        sql=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
ng AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(1, len(ws) - {DECON_N - 2}),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
    ))) AS g
  FROM w WHERE len(ws) >= {DECON_N}
),
bench AS (
  SELECT DISTINCT g FROM ng WHERE doc_id < {DECON_BENCH_MAX_ID}
),
hits AS (
  SELECT DISTINCT n.doc_id FROM ng n JOIN bench b USING (g)
  WHERE n.doc_id >= {DECON_BENCH_MAX_ID}
)
SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id >= {DECON_BENCH_MAX_ID}""",
    ),
)


#: Passage-level duplication n-gram size (docs are ~100 words).
PASSAGE_N = 10

_register(
    "text_dup_passages",
    Query(
        spark=lambda s, d: text.duplicate_passage_fraction(
            _docs(s, d), n=PASSAGE_N
        ).select("doc_id", "n_grams", "dup_grams", round4(F.col("dup_frac")).alias("dup_frac")),
        sql=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
ng AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(1, len(ws) - {PASSAGE_N - 2}),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] || ' ' ||
           ws[i+8] || ' ' || ws[i+9]
    ))) AS g
  FROM w WHERE len(ws) >= {PASSAGE_N}
),
gdf AS (
  SELECT g, count(*) AS gdf FROM ng GROUP BY g
),
per_doc AS (
  SELECT n.doc_id,
    CAST(count(*) AS BIGINT) AS n_grams,
    CAST(sum(CASE WHEN f.gdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams
  FROM ng n JOIN gdf f USING (g)
  GROUP BY n.doc_id
)
SELECT doc_id, n_grams, dup_grams,
  {_r('CAST(dup_grams AS DOUBLE) / n_grams', 'dup_frac')}
FROM per_doc""",
    ),
)


# --------------------------------------------------------------------- #
# Document chunking + quantile quality filter
# --------------------------------------------------------------------- #

CHUNK, CHUNK_OVERLAP = 64, 16
_CHUNK_STEP = CHUNK - CHUNK_OVERLAP

_register(
    "chunk_documents",
    Query(
        spark=lambda s, d: text.chunk_documents(
            _docs(s, d), chunk=CHUNK, overlap=CHUNK_OVERLAP
        ),
        sql=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
c AS (
  SELECT doc_id, ws,
    CASE WHEN len(ws) <= {CHUNK} THEN 1
         ELSE CAST(floor((len(ws) - {CHUNK} + {_CHUNK_STEP - 1}) / {_CHUNK_STEP}) AS BIGINT) + 1
    END AS nch
  FROM w
),
e AS (
  SELECT doc_id, ws, unnest(range(0, nch)) AS chunk_id FROM c
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  array_to_string(ws[chunk_id * {_CHUNK_STEP} + 1 : chunk_id * {_CHUNK_STEP} + {CHUNK}], ' ') AS chunk_text,
  CAST(len(ws[chunk_id * {_CHUNK_STEP} + 1 : chunk_id * {_CHUNK_STEP} + {CHUNK}]) AS BIGINT) AS n_tokens
FROM e""",
    ),
)


#: Same 4dp quantization as queries.round4, applied to score AND cutoff so
#: the >= boundary agrees cross-engine.
_QQ = 0.2
_QSCORE_SQL = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
),
m AS (
  SELECT doc_id, text, ws,
    CAST(len(ws) AS DOUBLE) AS n,
    len(list_distinct(ws)) AS dt,
    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS punct,
    len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) AS stop
  FROM t
),
scored AS (
  SELECT doc_id,
    floor((least(n / 50, 1.0) * 0.3 + (dt / n) * 0.3
           + (1 - punct / length(text)) * 0.2
           + least(stop / n * 4, 1.0) * 0.2) * 1e4 + 0.500000001) / 1e4
      AS quality_score
  FROM m
),
cut AS (
  SELECT floor(quantile_cont(quality_score, {q}) * 1e4 + 0.500000001) / 1e4 AS c
  FROM scored
)
SELECT s.doc_id, s.quality_score
FROM scored s, cut WHERE s.quality_score >= cut.c"""

_register(
    "filter_quality_quantile",
    Query(
        spark=lambda s, d: text.filter_by_quality_quantile(
            _docs(s, d), q=_QQ
        ).select("doc_id", "quality_score"),
        sql=_QSCORE_SQL.format(q=_QQ),
    ),
)


#: Sketch-path twin of `filter_quality_quantile`: min_rows=0 forces the
#: at-scale branch and estimator="kmv" picks the deterministic bottom-k
#: sample cutoff (md5(doc_id) order), so the DISPATCHED path itself runs
#: under the full value-hash oracle — percentile_approx couldn't (DuckDB
#: has no replay of Spark's t-digest), the KMV sample replays exactly.
_KMV_Q_K = 128
_QSCORE_SKETCH_SQL = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
),
m AS (
  SELECT doc_id, text, ws,
    CAST(len(ws) AS DOUBLE) AS n,
    len(list_distinct(ws)) AS dt,
    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS punct,
    len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) AS stop
  FROM t
),
scored AS (
  SELECT doc_id,
    floor((least(n / 50, 1.0) * 0.3 + (dt / n) * 0.3
           + (1 - punct / length(text)) * 0.2
           + least(stop / n * 4, 1.0) * 0.2) * 1e4 + 0.500000001) / 1e4
      AS quality_score
  FROM m
),
sk AS (
  SELECT quality_score AS v,
    row_number() OVER (
      ORDER BY md5(CAST(doc_id AS VARCHAR)), quality_score) AS rn
  FROM scored
),
cut AS (
  SELECT floor(quantile_cont(v, {q}) * 1e4 + 0.500000001) / 1e4 AS c
  FROM sk WHERE rn <= {k}
)
SELECT s.doc_id, s.quality_score
FROM scored s, cut WHERE s.quality_score >= cut.c"""

_register(
    "filter_quality_quantile_sketch",
    Query(
        spark=lambda s, d: text.filter_by_quality_quantile(
            _docs(s, d), q=_QQ, min_rows=0, estimator="kmv", k=_KMV_Q_K
        ).select("doc_id", "quality_score"),
        sql=_QSCORE_SKETCH_SQL.format(q=_QQ, k=_KMV_Q_K),
    ),
)


_register(
    "text_bpe_tokens",
    Query(
        spark=lambda s, d: text.with_bpe_token_count(_docs(s, d)).select(
            "doc_id", F.col("bpe_token_count").cast("long").alias("bpe_token_count")
        ),
        sql=f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{text.BPE_TOKEN_RE}')) AS BIGINT)
    AS bpe_token_count
FROM documents""",
    ),
)


def _quant_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import quantize_embeddings_int8

    return quantize_embeddings_int8(load_table(spark, sf_dir, "embeddings"))


_register(
    "embedding_quantize_int8",
    Query(
        spark=_quant_spark,
        sql="""
WITH m AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings
),
e AS (
  SELECT vec_id, mx,
    unnest(range(0, len(embedding))) AS pos,
    unnest(embedding) AS val
  FROM m
)
SELECT vec_id, CAST(pos AS BIGINT) AS pos,
  CAST(CASE WHEN mx = 0 THEN 0
            ELSE floor(CAST(val AS DOUBLE) * 127.0 / mx + 0.5) END AS BIGINT)
    AS qval
FROM e""",
    ),
)


_TFIDF_T = 0.9


def _tfidf_sql(max_df_frac: float | None = None) -> str:
    """One generator for both TF-IDF oracles: ``max_df_frac`` adds the
    vocabulary prune predicate (the only difference between the plain and
    pruned variants — keeping a single source of truth for the weighting
    pipeline)."""
    prune = f"df <= n * {max_df_frac} AND " if max_df_frac is not None else ""
    return f"""
WITH tf AS (
  SELECT doc_id AS id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
wtd AS (
  SELECT id, t.tok, tf * ln(CAST(n AS DOUBLE) / df) AS w
  FROM tf t JOIN dfreq f ON f.tok = t.tok, nd
  WHERE {prune}tf * ln(CAST(n AS DOUBLE) / df) > 0
),
norms AS (SELECT id, sqrt(sum(w * w)) AS nn FROM wtd GROUP BY id),
wn AS (SELECT w.id, w.tok, w.w / nm.nn AS wn FROM wtd w JOIN norms nm ON nm.id = w.id),
p AS (
  SELECT a.id AS ia, b.id AS ib, sum(a.wn * b.wn) AS cos
  FROM wn a JOIN wn b ON a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT ia, ib, {_r('cos', 'cos')} FROM p WHERE cos >= {_TFIDF_T}"""


_register(
    "tfidf_cosine_pairs",
    Query(
        spark=lambda s, d: similarity.tfidf_cosine_pairs(
            _docs(s, d), threshold=_TFIDF_T
        ).select("ia", "ib", round4(F.col("cos")).alias("cos")),
        sql=_tfidf_sql(),
    ),
)


# --------------------------------------------------------------------- #
# Incremental-ingest dedup: new batch vs historical fingerprint table
# --------------------------------------------------------------------- #

#: Docs below this id play the "historical corpus"; the rest are the batch.
INCR_SPLIT_ID = 250


def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") < INCR_SPLIT_ID).select(
        F.md5("text").alias("fp")
    )
    batch = docs.filter(F.col("doc_id") >= INCR_SPLIT_ID)
    return dedup.dedup_against_corpus(batch, hist).select("doc_id")


_register(
    "dedup_incremental",
    Query(
        spark=_dedup_incremental,
        sql=f"""
WITH hist AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < {INCR_SPLIT_ID}
),
batch AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id >= {INCR_SPLIT_ID}
),
fresh AS (
  SELECT b.doc_id, b.fp FROM batch b
  WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
)
SELECT doc_id FROM fresh f
WHERE doc_id = (SELECT min(doc_id) FROM fresh g WHERE g.fp = f.fp)""",
    ),
)


# Compressibility signal: no zlib in DuckDB SQL, so this is the catalog's
# one deliberate rows-only entry (sql=None → the driver records the weaker
# check); determinism is pinned by tests/test_functions.py instead.
_register(
    "text_compression_ratio",
    Query(
        spark=lambda s, d: text.with_compression_ratio(_docs(s, d)).select(
            "doc_id", round4(F.col("compression_ratio")).alias("compression_ratio")
        ),
        sql=None,
    ),
)


# --------------------------------------------------------------------- #
# RAG-style retrieval pipeline: dedup -> chunk -> embed-join -> top-k
# --------------------------------------------------------------------- #

RAG_TOPK, RAG_NQ = 3, 5


def _rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval composition over library primitives: exact
    dedup keeps one doc per text, survivors are chunked (64/16), chunks
    inherit their document embedding, and each of the first RAG_NQ query
    vectors retrieves its RAG_TOPK nearest chunks by cosine.

    Scale shape: the query side (RAG_NQ rows) broadcasts, so scoring is a
    map over the chunk stream; ranking partitions by query id (parallel
    across queries — at real scale replace the per-query window with a
    per-query TakeOrdered/limit).  Dedup/chunk shapes as in their
    standalone operators."""
    from ..functions.similarity import dot, norm
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    kept = dedup.exact_dedup(docs)
    chunks = text.chunk_documents(kept, chunk=64, overlap=16).select(
        "doc_id", "chunk_id"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    base = chunks.join(emb, "doc_id")
    q = emb.filter(F.col("doc_id") < RAG_NQ).select(
        F.col("doc_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    joined = base.crossJoin(F.broadcast(q)).filter(F.col("doc_id") != F.col("qid"))
    cos = dot(F.col("qvec"), F.col("embedding")) / F.nullif(
        norm(F.col("qvec")) * norm(F.col("embedding")), F.lit(0.0)
    )
    w = W.partitionBy("qid").orderBy(F.col("_cos").desc(), "doc_id", "chunk_id")
    return (
        joined.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RAG_TOPK)
        .select("qid", "doc_id", "chunk_id", "rank", round4(F.col("_cos")).alias("cos"))
    )


def _rag_sql() -> str:
    step, chunk = 48, 64
    return f"""
WITH kept AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
w AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS ws
  FROM documents d JOIN kept k ON k.doc_id = d.doc_id
),
c AS (
  SELECT doc_id,
    CASE WHEN len(ws) <= {chunk} THEN 1
         ELSE CAST(floor((len(ws) - {chunk} + {step - 1}) / {step}) AS BIGINT) + 1
    END AS nch
  FROM w
),
ch AS (
  SELECT doc_id, CAST(t.f AS BIGINT) AS chunk_id
  FROM c, unnest(range(0, nch)) AS t(f)
),
base AS (
  SELECT c2.doc_id, c2.chunk_id, e.embedding,
         {_norm_sql('e.embedding')} AS nn
  FROM ch c2 JOIN embeddings e ON e.vec_id = c2.doc_id
),
q AS (
  SELECT vec_id AS qid, embedding AS qvec, {_norm_sql('embedding')} AS qn
  FROM embeddings WHERE vec_id < {RAG_NQ}
),
s AS (
  SELECT q.qid, b.doc_id, b.chunk_id,
    ({_dot_sql('q.qvec', 'b.embedding')}) / (q.qn * b.nn) AS cos
  FROM base b, q WHERE b.doc_id != q.qid
),
r AS (
  SELECT qid, doc_id, chunk_id, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id, chunk_id) AS rank
  FROM s
)
SELECT qid, doc_id, chunk_id, CAST(rank AS INT) AS rank, {_r('cos', 'cos')}
FROM r WHERE rank <= {RAG_TOPK}"""


_register(
    "rag_pipeline",
    Query(spark=_rag_pipeline, sql=_rag_sql()),
)


def _semdedup_sql(max_cell_size: int | None = None) -> str:
    if max_cell_size is None:
        pair_src = "cells"
        cap_cte = ""
    else:
        pair_src = "capped"
        cap_cte = f""",
capped AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cell ORDER BY vec_id
    ) AS crn FROM cells
  ) WHERE crn <= {max_cell_size}
)"""
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv, {_norm_sql('embedding')} AS cn
  FROM embeddings WHERE vec_id < 16
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
    ({_dot_sql('e.embedding', 'c.cv')}) / ({_norm_sql('e.embedding')} * c.cn) AS cos
  FROM embeddings e, cent c
),
cells AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid
    ) AS rn FROM scored
  ) WHERE rn = 1
){cap_cte},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM {pair_src} a JOIN {pair_src} b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ({_dot_sql('a.embedding', 'b.embedding')})
        / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}) >= 0.4
)
SELECT e.vec_id FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = e.vec_id)"""


_register(
    "semantic_dedup",
    Query(
        spark=lambda s, d: similarity.semantic_dedup(
            load_table(s, d, "embeddings"), threshold=0.4
        ),
        sql=_semdedup_sql(),
    ),
)


def _lang_margin_sql() -> str:
    hit_exprs = ", ".join(
        f"len(list_filter(ws, x -> x IN ({', '.join(repr(w) for w in vocab)})))"
        for vocab in text.LANG_MARKERS.values()
    )
    k = len(text.LANG_MARKERS)
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
h AS (
  SELECT doc_id, list_sort([{hit_exprs}]) AS srt FROM t
)
SELECT doc_id, CAST(srt[{k}] - srt[{k - 1}] AS BIGINT) AS lang_margin FROM h"""


_register(
    "text_lang_margin",
    Query(
        spark=lambda s, d: text.with_lang_margin(_docs(s, d)).select(
            "doc_id", "lang_margin"
        ),
        sql=_lang_margin_sql(),
    ),
)


# --------------------------------------------------------------------- #
# Round-3 adversarial-bound variants: the capped paths, oracle-verified
# (the caps are deterministic lowest-id samples, so DuckDB row_number
# replicates them exactly).
# --------------------------------------------------------------------- #

#: Cell cap small enough to bind on the sf0.01 embeddings (500 vectors /
#: 16 cells ≈ 31 per cell).
_SEMDEDUP_CELL_CAP = 20

_register(
    "semantic_dedup_capped",
    Query(
        spark=lambda s, d: similarity.semantic_dedup(
            load_table(s, d, "embeddings"),
            threshold=0.4,
            max_cell_size=_SEMDEDUP_CELL_CAP,
        ),
        sql=_semdedup_sql(_SEMDEDUP_CELL_CAP),
    ),
)


_register(
    "tfidf_cosine_pairs_pruned",
    Query(
        spark=lambda s, d: similarity.tfidf_cosine_pairs(
            _docs(s, d), threshold=_TFIDF_T, max_df_frac=0.5
        ).select("ia", "ib", round4(F.col("cos")).alias("cos")),
        sql=_tfidf_sql(max_df_frac=0.5),
    ),
)


def _pii_sql() -> str:
    """Sequential redaction replayed relationally: pattern i counts/
    replaces on the text already redacted by patterns 1..i-1, exactly
    like the Spark chain."""
    t = "text"
    counts = []
    for name, pat, token in text.PII_PATTERNS:
        p = pat.replace("'", "''")
        counts.append(
            f"CAST(len(regexp_extract_all({t}, '{p}')) AS BIGINT)"
            f" AS pii_{name}_count"
        )
        t = f"regexp_replace({t}, '{p}', '{token}', 'g')"
    total = " + ".join(f"pii_{n}_count" for n, _, _ in text.PII_PATTERNS)
    cols = ", ".join(counts)
    return f"""
WITH r AS (
  SELECT doc_id, {cols}, {t} AS redacted FROM documents
)
SELECT doc_id, pii_email_count, pii_ssn_count, pii_ipv4_count,
  pii_phone_count, CAST({total} AS BIGINT) AS pii_total_count, redacted
FROM r"""


_register(
    "text_redact_pii",
    Query(
        spark=lambda s, d: text.redact_pii(_docs(s, d)).select(
            "doc_id",
            "pii_email_count",
            "pii_ssn_count",
            "pii_ipv4_count",
            "pii_phone_count",
            "pii_total_count",
            "redacted",
        ),
        sql=_pii_sql(),
    ),
)


_register(
    "chunk_dedup_stats",
    Query(
        spark=lambda s, d: text.chunk_dedup_exact(
            _docs(s, d), chunk=CHUNK, overlap=CHUNK_OVERLAP
        ).select(
            "doc_id",
            "n_chunks",
            "kept_chunks",
            round4(F.col("kept_frac")).alias("kept_frac"),
        ),
        sql=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
c AS (
  SELECT doc_id, ws,
    CASE WHEN len(ws) <= {CHUNK} THEN 1
         ELSE CAST(floor((len(ws) - {CHUNK} + {_CHUNK_STEP - 1}) / {_CHUNK_STEP}) AS BIGINT) + 1
    END AS nch
  FROM w
),
e AS (
  SELECT doc_id, ws, unnest(range(0, nch)) AS chunk_id FROM c
),
ch AS (
  SELECT doc_id, chunk_id,
    array_to_string(ws[chunk_id * {_CHUNK_STEP} + 1 : chunk_id * {_CHUNK_STEP} + {CHUNK}], ' ') AS chunk_text
  FROM e
),
k AS (
  SELECT doc_id, chunk_id,
    row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
  FROM ch
),
per_doc AS (
  SELECT doc_id,
    CAST(count(*) AS BIGINT) AS n_chunks,
    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks
  FROM k GROUP BY doc_id
)
SELECT doc_id, n_chunks, kept_chunks,
  {_r("CAST(kept_chunks AS DOUBLE) / n_chunks", "kept_frac")} FROM per_doc""",
    ),
)


# --------------------------------------------------------------------- #
# Corpus vocabulary + cross-source overlap (round 3)
# --------------------------------------------------------------------- #

_VOCAB_TOP_K = 100

_register(
    "corpus_vocab_stats",
    Query(
        spark=lambda s, d: text.vocab_stats(_docs(s, d), top_k=_VOCAB_TOP_K).select(
            "rank", "tok", "cnt", "docs", round4(F.col("share")).alias("share")
        ),
        sql=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
stats AS (
  SELECT tok, count(*) AS cnt, count(DISTINCT doc_id) AS docs
  FROM toks GROUP BY tok
),
tot AS (SELECT count(*) AS n FROM toks),
ranked AS (
  SELECT tok, cnt, docs,
    row_number() OVER (ORDER BY cnt DESC, tok) AS rank
  FROM stats
)
SELECT rank, tok, cnt, docs, {_r('CAST(cnt AS DOUBLE) / n', 'share')}
FROM ranked CROSS JOIN tot WHERE rank <= {_VOCAB_TOP_K}""",
    ),
)


#: Cross-source overlap n-gram size.
_OVERLAP_N = 5


def _overlap_gram_sql() -> str:
    concat = " || ' ' || ".join(f"ws[i+{j}]" for j in range(_OVERLAP_N))
    return (
        f"list_transform(range(1, len(ws) - {_OVERLAP_N - 2}), i -> {concat})"
    )


_register(
    "source_overlap_matrix",
    Query(
        spark=lambda s, d: text.source_ngram_overlap(
            _docs(s, d), n=_OVERLAP_N
        ).select(
            "sa", "sb", "n_shared", "na", "nb",
            round4(F.col("jaccard")).alias("jaccard"),
        ),
        sql=f"""
WITH w AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT DISTINCT source AS src, unnest({_overlap_gram_sql()}) AS g
  FROM w WHERE len(ws) >= {_OVERLAP_N}
),
sizes AS (SELECT src, count(*) AS sz FROM g GROUP BY src),
shared AS (
  SELECT a.src AS sa, b.src AS sb, count(*) AS n_shared
  FROM g a JOIN g b ON a.g = b.g AND a.src < b.src
  GROUP BY 1, 2
)
SELECT s.sa, s.sb, s.n_shared, za.sz AS na, zb.sz AS nb,
  {_r('CAST(s.n_shared AS DOUBLE) / (za.sz + zb.sz - s.n_shared)', 'jaccard')}
FROM shared s
JOIN sizes za ON za.src = s.sa
JOIN sizes zb ON zb.src = s.sb""",
    ),
)


# --------------------------------------------------------------------- #
# Mergeable HLL distinct sketches (rows-only: engine-specific sketch
# family; exactness bounds pinned in tests/test_functions.py)
# --------------------------------------------------------------------- #


def _hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sketches.hll_distinct_rollup(ev).orderBy("day")


_register(
    "stats_hll_rollup",
    Query(spark=_hll_rollup, sql=None),
)


# --------------------------------------------------------------------- #
# Information-theoretic corpus signals + weighted sampling
# --------------------------------------------------------------------- #

_register(
    "text_entropy",
    Query(
        spark=lambda s, d: text.doc_token_entropy(_docs(s, d)).select(
            "doc_id", "n_tokens", round4(F.col("entropy")).alias("entropy")
        ),
        sql=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
pd AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
  FROM tc GROUP BY 1
)
SELECT doc_id, n_tokens,
  {_r('ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens', 'entropy')}
FROM pd""",
    ),
)

_register(
    "source_kl_divergence",
    Query(
        spark=lambda s, d: text.source_kl_divergence(_docs(s, d)).select(
            "source", "n_tokens", round4(F.col("kl")).alias("kl")
        ),
        sql=f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
sc AS (SELECT source AS src, tok, count(*) AS cs FROM toks GROUP BY 1, 2),
cc AS (SELECT tok, count(*) AS cq FROM toks GROUP BY 1),
totals AS (SELECT src, CAST(sum(cs) AS BIGINT) AS ts FROM sc GROUP BY 1),
tq AS (SELECT count(*) AS tq FROM toks),
terms AS (
  SELECT sc.src, totals.ts,
    (CAST(sc.cs AS DOUBLE) / totals.ts)
      * ln((CAST(sc.cs AS DOUBLE) / totals.ts)
           / (CAST(cc.cq AS DOUBLE) / tq.tq)) AS term
  FROM sc JOIN cc USING (tok) JOIN totals USING (src) CROSS JOIN tq
)
SELECT src AS source, CAST(max(ts) AS BIGINT) AS n_tokens,
  {_r('sum(term)', 'kl')}
FROM terms GROUP BY src""",
    ),
)

_register(
    "sample_weighted_aes",
    Query(
        spark=lambda s, d: sampling.weighted_sample(
            _docs(s, d), key="doc_id", weight_col="n_chars", k=50
        ).select(
            "doc_id", "n_chars", round4(F.col("aes_score")).alias("aes_score")
        ),
        sql=f"""
WITH s AS (
  SELECT doc_id, n_chars,
    ln({sampling.unit_sql('doc_id', 'w42')})
      / CAST(n_chars AS DOUBLE) AS aes_score
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, {_r('aes_score', 'aes_score')}
FROM (
  -- order/limit on the RAW score in a subquery: in the outer SELECT the
  -- name aes_score resolves to the ROUNDED output alias, which would
  -- reorder ties differently from Spark's raw-score top-k
  SELECT * FROM s ORDER BY aes_score DESC, doc_id LIMIT 50
)""",
    ),
)


# --------------------------------------------------------------------- #
# Exact substring (repeated-span) dedup — the Lee et al. 2021 ExactSubstr
# family: cross-document repeated-passage removal, the span-level
# complement to whole-doc fingerprint dedup.
# --------------------------------------------------------------------- #

#: Minimum duplicated-span length in words.  The paper uses 50 BPE
#: tokens on real corpora; the synthetic docs are ~55 words, so 10 keeps
#: the operator exercised (≈2k duplicated positions at sf0.01).
SUBSTR_N = 10


def _gram_expr(n: int) -> str:
    """DuckDB n-gram string for position ``i`` (1-based list index)."""
    parts = ["ws[i]"] + [f"ws[i+{j}]" for j in range(1, n)]
    return " || ' ' || ".join(parts)


#: Duplicated-seed CTEs: audit policy (every occurrence of a repeated
#: gram) vs removal policy (all but the globally-first copy survive).
_DUP_ALL = """
occ AS (
  SELECT g, count(*) AS occ FROM ng GROUP BY g
),
dup AS (
  SELECT n2.doc_id, n2.pos FROM ng n2 JOIN occ o USING (g) WHERE o.occ > 1
)"""

_DUP_KEEP_FIRST = """
ranked AS (
  SELECT doc_id, pos,
    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM ng
),
dup AS (
  SELECT doc_id, pos FROM ranked WHERE rn > 1
)"""


#: Shared gram + interval-merge skeleton (parameterized on the seed CTEs).
_NG_CTES = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
ng AS (
  SELECT doc_id,
    unnest(range(1, len(ws) - {SUBSTR_N - 2})) AS pos,
    unnest(list_transform(range(1, len(ws) - {SUBSTR_N - 2}),
      i -> {_gram_expr(SUBSTR_N)})) AS g
  FROM w WHERE len(ws) >= {SUBSTR_N}
),"""

_MERGE_CTES = f"""
lagged AS (
  SELECT doc_id, pos,
    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
  FROM dup
),
runs AS (
  SELECT doc_id, pos,
    sum(CASE WHEN pos - prev_pos > {SUBSTR_N} THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS rid
  FROM lagged
),
spans AS (
  SELECT doc_id,
    CAST(min(pos) AS BIGINT) AS span_start,
    CAST(max(pos) + {SUBSTR_N - 1} AS BIGINT) AS span_end
  FROM runs GROUP BY doc_id, rid
)"""

_SPANS_SELECT = """
SELECT doc_id, span_start, span_end,
  CAST(span_end - span_start + 1 AS BIGINT) AS span_words
FROM spans"""


_register(
    "dedup_substring_spans",
    Query(
        spark=lambda s, d: dedup.substring_dup_spans(_docs(s, d), n=SUBSTR_N),
        sql=_NG_CTES + _DUP_ALL + "," + _MERGE_CTES + _SPANS_SELECT,
    ),
)

_register(
    "dedup_substring_keep_first",
    Query(
        spark=lambda s, d: dedup.substring_dup_spans(
            _docs(s, d), n=SUBSTR_N, keep_first=True
        ),
        sql=_NG_CTES + _DUP_KEEP_FIRST + "," + _MERGE_CTES + _SPANS_SELECT,
    ),
)


#: Boilerplate-gram guard variant: grams in > max_df_frac of the corpus'
#: documents are pruned BEFORE occurrence analysis (the ExactSubstr
#: skew kill — no posting list hotter than that fraction ever becomes
#: window state).  0.004 of 500 sf0.01 docs = ban df ≥ 3 grams, so the
#: prune demonstrably fires (max synthetic gram df is 3) while df=2
#: passages still produce spans.  Oracle mirrors the prune on raw grams.
SUBSTR_MAX_DF = 0.004

_PRUNED_SQL = (
    _NG_CTES
    + f"""
banned AS (
  SELECT g FROM ng GROUP BY g
  HAVING count(DISTINCT doc_id) >
    (SELECT count(DISTINCT doc_id) FROM documents) * {SUBSTR_MAX_DF}
),
ngp AS (
  SELECT n0.doc_id, n0.pos, n0.g FROM ng n0
  WHERE NOT EXISTS (SELECT 1 FROM banned b WHERE b.g = n0.g)
),
occ AS (
  SELECT g, count(*) AS occ FROM ngp GROUP BY g
),
dup AS (
  SELECT n2.doc_id, n2.pos FROM ngp n2 JOIN occ o USING (g) WHERE o.occ > 1
),"""
    + _MERGE_CTES.lstrip()
    + _SPANS_SELECT
)

_register(
    "dedup_substring_spans_pruned",
    Query(
        spark=lambda s, d: dedup.substring_dup_spans(
            _docs(s, d), n=SUBSTR_N, max_df_frac=SUBSTR_MAX_DF
        ),
        sql=_PRUNED_SQL,
    ),
)


_STATS_SQL = (
    _NG_CTES
    + _DUP_ALL
    + ","
    + _MERGE_CTES
    + f""",
per_doc AS (
  SELECT doc_id, sum(span_end - span_start + 1) AS dw FROM spans GROUP BY doc_id
)
SELECT w.doc_id,
  CAST(len(w.ws) AS BIGINT) AS n_words,
  CAST(coalesce(p.dw, 0) AS BIGINT) AS dup_words,
  {_r('CAST(coalesce(p.dw, 0) AS DOUBLE) / len(w.ws)', 'dup_frac')}
FROM w LEFT JOIN per_doc p USING (doc_id)
WHERE len(w.ws) >= {SUBSTR_N}"""
)


#: Docs below this id play the "historical corpus"; the rest are the
#: batch (same split convention as `dedup_incremental`).
SUBSTR_SPLIT_ID = 250

_INCR_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
ng AS (
  SELECT doc_id,
    unnest(range(1, len(ws) - {SUBSTR_N - 2})) AS pos,
    unnest(list_transform(range(1, len(ws) - {SUBSTR_N - 2}),
      i -> {_gram_expr(SUBSTR_N)})) AS g
  FROM w WHERE len(ws) >= {SUBSTR_N}
),
hist AS (
  SELECT DISTINCT g FROM ng WHERE doc_id < {SUBSTR_SPLIT_ID}
),
dup AS (
  SELECT n2.doc_id, n2.pos FROM ng n2
  WHERE n2.doc_id >= {SUBSTR_SPLIT_ID}
    AND EXISTS (SELECT 1 FROM hist h WHERE h.g = n2.g)
),{_MERGE_CTES.lstrip()}{_SPANS_SELECT}"""


def _substr_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") < SUBSTR_SPLIT_ID)
    batch = docs.filter(F.col("doc_id") >= SUBSTR_SPLIT_ID)
    return dedup.substring_dedup_against_corpus(batch, hist, n=SUBSTR_N)


_register(
    "dedup_substring_incremental",
    Query(spark=_substr_incremental, sql=_INCR_SQL),
)


#: Cleaned-corpus transform: cut the keep-first spans out of every doc.
#: Token-level replay in the oracle (zipped unnest + span anti join);
#: spans are disjoint so the LEFT JOIN matches each token at most once.
_CLEAN_SQL = (
    _NG_CTES
    + _DUP_KEEP_FIRST
    + ","
    + _MERGE_CTES
    + """,
alltok AS (
  SELECT doc_id,
    unnest(range(1, len(ws) + 1)) AS i,
    unnest(ws) AS wd
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
kept AS (
  SELECT t.doc_id, t.i, t.wd
  FROM alltok t
  LEFT JOIN spans s
    ON s.doc_id = t.doc_id AND t.i BETWEEN s.span_start AND s.span_end
  WHERE s.doc_id IS NULL
),
agg AS (
  SELECT doc_id,
    string_agg(wd, ' ' ORDER BY i) AS ct,
    count(*) AS kept_n
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.ct, '') END
    AS clean_text,
  CAST(coalesce(len(string_split(d.text, ' ')) - coalesce(a.kept_n, 0), 0)
    AS BIGINT) AS n_removed
FROM documents d LEFT JOIN agg a USING (doc_id)"""
)

_register(
    "dedup_substring_clean",
    Query(
        spark=lambda s, d: dedup.substring_dedup_clean(_docs(s, d), n=SUBSTR_N),
        sql=_CLEAN_SQL,
    ),
)


_register(
    "dedup_substring_stats",
    Query(
        spark=lambda s, d: dedup.substring_dup_stats(
            _docs(s, d), n=SUBSTR_N
        ).select(
            "doc_id",
            "n_words",
            "dup_words",
            round4(F.col("dup_frac")).alias("dup_frac"),
        ),
        sql=_STATS_SQL,
    ),
)


# --------------------------------------------------------------------- #
# Token-set containment (doc-in-doc / quote duplication)
# --------------------------------------------------------------------- #

CONT_T, CONT_MAXDF = 0.6, 0.5

_register(
    "dedup_containment_pairs",
    Query(
        spark=lambda s, d: dedup.containment_pairs(
            _docs(s, d), threshold=CONT_T, max_df_frac=CONT_MAXDF
        ).select(
            "ia",
            "ib",
            round4(F.col("cont_a")).alias("cont_a"),
            round4(F.col("cont_b")).alias("cont_b"),
        ),
        sql=f"""
WITH toks0 AS (
  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
dfreq AS (
  SELECT tok, count(*) AS df FROM toks0 GROUP BY tok
),
ndocs AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
),
toks AS (
  SELECT t.id, t.tok
  FROM toks0 t JOIN dfreq f ON f.tok = t.tok, ndocs
  WHERE f.df <= n_docs * {CONT_MAXDF}
),
sizes AS (
  SELECT id, count(*) AS sz FROM toks GROUP BY id
),
shared AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id
),
cont AS (
  SELECT s.ia, s.ib,
    CAST(s.shared AS DOUBLE) / za.sz AS cont_a,
    CAST(s.shared AS DOUBLE) / zb.sz AS cont_b
  FROM shared s
  JOIN sizes za ON za.id = s.ia
  JOIN sizes zb ON zb.id = s.ib
)
SELECT ia, ib, {_r('cont_a', 'cont_a')}, {_r('cont_b', 'cont_b')}
FROM cont WHERE greatest(cont_a, cont_b) >= {CONT_T}""",
    ),
)


# --------------------------------------------------------------------- #
# Gopher hard quality rules (Rae et al. 2021 §A1.1)
# --------------------------------------------------------------------- #

_GFLAGS = (
    "ok_word_count",
    "ok_avg_word_len",
    "ok_symbol_ratio",
    "ok_bullet_lines",
    "ok_ellipsis_lines",
    "ok_alpha_words",
    "ok_stopwords",
    "keep",
)


def _gopher_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import gopher_rules

    out = gopher_rules(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_words",
        *[F.col(f).cast("long").alias(f) for f in _GFLAGS],
    )


def _gopher_flag_exprs() -> dict[str, str]:
    """DuckDB Gopher rule flags over columns ``text`` / ``ws`` / ``ls``
    (shared by the standalone query and the ensemble vote)."""
    from ..functions import text as T

    stop = ", ".join(f"'{s}'" for s in T.STOPWORDS)
    n = "CAST(len(ws) AS DOUBLE)"
    nl = "CAST(len(ls) AS DOUBLE)"
    return {
        "ok_word_count": f"({n} >= {T.GOPHER_MIN_WORDS} AND {n} <= {T.GOPHER_MAX_WORDS})",
        "ok_avg_word_len": (
            f"((length(text) - ({n} - 1)) / {n} >= {T.GOPHER_MIN_AVG_LEN}"
            f" AND (length(text) - ({n} - 1)) / {n} <= {T.GOPHER_MAX_AVG_LEN})"
        ),
        "ok_symbol_ratio": (
            "((length(text) - length(replace(text, '#', ''))"
            " + (length(text) - length(replace(text, '...', ''))) / 3)"
            f" / {n} <= {T.GOPHER_MAX_SYMBOL_RATIO})"
        ),
        "ok_bullet_lines": (
            "(CAST(len(list_filter(ls, x -> starts_with(x, '-')"
            " OR starts_with(x, '*') OR starts_with(x, '•'))) AS DOUBLE)"
            f" / {nl} <= {T.GOPHER_MAX_BULLET_FRAC})"
        ),
        "ok_ellipsis_lines": (
            "(CAST(len(list_filter(ls, x -> ends_with(x, '...'))) AS DOUBLE)"
            f" / {nl} <= {T.GOPHER_MAX_ELLIPSIS_FRAC})"
        ),
        "ok_alpha_words": (
            "(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))"
            f" AS DOUBLE) / {n} >= {T.GOPHER_MIN_ALPHA_WORD_FRAC})"
        ),
        "ok_stopwords": (
            f"(len(list_filter(ws, x -> x IN ({stop})))"
            f" >= {T.GOPHER_MIN_STOPWORD_HITS})"
        ),
    }


def _gopher_sql() -> str:
    flags = _gopher_flag_exprs()
    cols = [
        f"CAST(COALESCE({expr}, false) AS BIGINT) AS {name}"
        for name, expr in flags.items()
    ]
    keep = " AND ".join(f"COALESCE({expr}, false)" for expr in flags.values())
    return f"""
WITH t AS (
  SELECT doc_id, text,
    string_split(text, ' ') AS ws,
    string_split(text, chr(10)) AS ls
  FROM documents
)
SELECT doc_id,
  CAST(len(ws) AS BIGINT) AS n_words,
  {", ".join(cols)},
  CAST(({keep}) AS BIGINT) AS keep
FROM t"""


_register(
    "filter_gopher_rules",
    Query(spark=_gopher_spark, sql=_gopher_sql()),
)


# --------------------------------------------------------------------- #
# Corpus-wide line dedup (CCNet/RefinedWeb boilerplate pass) and C4
# rule cleaning (Raffel et al. 2020 §2.2).  The synthetic documents are
# single-line and unpunctuated, so both queries first derive a
# deterministic multi-line corpus (fixed-k word chunks as "lines"; C4
# additionally flips an md5 coin per line for terminal punctuation) —
# identical derivation on both engines, so the value hash covers the
# REMOVAL paths, not just passthrough.
# --------------------------------------------------------------------- #

LINE_K, LINE_MIN_DF = 3, 2
C4_K = 5
_PUNCT_HEX = tuple("01234567")


def _lineify(docs: DataFrame, k: int, punct: bool = False) -> DataFrame:
    from ..functions.text import words

    # PROJECT the split before the chunk lambda: Spark does no CSE
    # inside lambda functions (the word_bigram_structs trap), so an
    # unprojected `ws` would re-split the WHOLE document once per chunk
    # — O(words²/k) per doc, quadratic in document length (r13; at the
    # bench corpus' short docs it is a wash, at real page lengths it is
    # the difference between linear and quadratic lineification).
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", words(F.col("text")).alias("_ws")
    )
    ws = F.col("_ws")
    nch = F.floor((F.size(ws) + (k - 1)) / k).cast("long")

    def mk(i):  # noqa: ANN001, ANN202
        line = F.concat_ws(" ", F.slice(ws, (i * k + 1).cast("int"), k))
        if punct:
            line = F.when(
                F.substring(F.md5(line), 1, 1).isin(*_PUNCT_HEX),
                F.concat(line, F.lit(".")),
            ).otherwise(line)
        return line

    chunks = F.transform(F.sequence(F.lit(0).cast("long"), nch - 1), mk)
    return base.select("doc_id", F.array_join(chunks, "\n").alias("text"))


def _lineify_sql(k: int, punct: bool = False) -> str:
    line = f"array_to_string(list_slice(ws, i*{k}+1, i*{k}+{k}), ' ')"
    hexes = ", ".join(f"'{h}'" for h in _PUNCT_HEX)
    if punct:
        line = (
            f"CASE WHEN substr(md5({line}), 1, 1) IN ({hexes})"
            f" THEN {line} || '.' ELSE {line} END"
        )
    return f"""
lnd AS (
  SELECT doc_id, i, {line} AS line
  FROM (SELECT doc_id, ws,
          unnest(generate_series(0,
            CAST(ceil(len(ws) / {k}.0) AS BIGINT) - 1)) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE text IS NOT NULL))
),
lineified AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text
  FROM lnd GROUP BY 1
)"""


def _line_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import line_dedup_global

    derived = _lineify(_docs(spark, sf_dir), LINE_K)
    return line_dedup_global(derived, min_df=LINE_MIN_DF).select(
        "doc_id", "clean_text", "n_lines", "n_removed"
    )


_LINE_DEDUP_SQL = f"""
WITH {_lineify_sql(LINE_K)[1:]},
t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lineified),
ex AS (
  SELECT doc_id, i, ls[i] AS line, md5(ls[i]) AS h
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM t)
),
dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= {LINE_MIN_DF}),
keep AS (
  SELECT e.doc_id, e.i, e.line
  FROM ex e LEFT JOIN dup d USING (h) WHERE d.h IS NULL
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(line, chr(10) ORDER BY i) AS txt
  FROM keep GROUP BY 1
)
SELECT t.doc_id,
  CASE WHEN t.text IS NULL THEN NULL ELSE COALESCE(r.txt, '') END
    AS clean_text,
  CAST(COALESCE(len(t.ls), 0) AS BIGINT) AS n_lines,
  CAST(COALESCE(len(t.ls), 0) - COALESCE(r.n_kept, 0) AS BIGINT)
    AS n_removed
FROM t LEFT JOIN reb r USING (doc_id)"""


_register(
    "dedup_lines_global",
    Query(spark=_line_dedup_spark, sql=_LINE_DEDUP_SQL),
)


_C4FLAGS = ("ok_sentences", "ok_no_lorem", "ok_no_brace", "ok_no_badwords", "keep")


def _c4_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import c4_rules

    derived = _lineify(_docs(spark, sf_dir), C4_K, punct=True)
    out = c4_rules(derived)
    return out.select(
        "doc_id",
        "clean_text",
        "n_lines",
        "n_kept",
        *[F.col(f).cast("long").alias(f) for f in _C4FLAGS],
    )


def _c4_line_ok() -> str:
    """DuckDB lambda for the C4 line keep-rule (shared by the standalone
    query and the r7 pipeline)."""
    from ..functions import text as T

    return (
        "x -> regexp_matches(rtrim(x), '[.!?\"]$')"
        f" AND len(string_split_regex(trim(x), '\\s+')) >= {T.C4_MIN_LINE_WORDS}"
        " AND NOT contains(lower(x), 'javascript')"
    )


def _qscore_m_fields() -> str:
    """Quality-score intermediate fields over (doc_id, text, ws) — one
    definition for every r7 oracle that embeds the heuristic score; keep
    in sync with text.with_quality_score (the Spark side) and
    _QSCORE_SQL (the pre-existing standalone oracles)."""
    return (
        "CAST(len(ws) AS DOUBLE) AS n,\n"
        "    len(list_distinct(ws)) AS dt,\n"
        "    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS punct,\n"
        "    len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) AS stop"
    )


def _qscore_expr() -> str:
    """The 4dp-quantized heuristic quality score over the m fields."""
    return (
        "floor((least(n / 50, 1.0) * 0.3 + (dt / n) * 0.3"
        " + (1 - punct / length(text)) * 0.2"
        " + least(stop / n * 4, 1.0) * 0.2) * 1e4 + 0.500000001) / 1e4"
    )


def _c4_flag_exprs() -> dict[str, str]:
    """DuckDB page-rule flags over columns ``clean_text`` / ``text``."""
    from ..functions import text as T

    bad = ", ".join(f"'{w}'" for w in T.C4_BADWORDS)
    return {
        "ok_sentences": (
            "(len(regexp_extract_all(clean_text, '[.!?]'))"
            f" >= {T.C4_MIN_SENTENCES})"
        ),
        "ok_no_lorem": "(NOT contains(lower(text), 'lorem ipsum'))",
        "ok_no_brace": "(NOT contains(text, '{'))",
        "ok_no_badwords": (
            "(len(list_filter(string_split(text, ' '),"
            f" w -> lower(w) IN ({bad}))) = 0)"
        ),
    }


def _c4_sql() -> str:
    line_ok = _c4_line_ok()
    flags = _c4_flag_exprs()
    cols = [
        f"CAST(COALESCE({expr}, false) AS BIGINT) AS {name}"
        for name, expr in flags.items()
    ]
    keep = " AND ".join(f"COALESCE({expr}, false)" for expr in flags.values())
    return f"""
WITH {_lineify_sql(C4_K, punct=True)[1:]},
t AS (
  SELECT doc_id, text,
    string_split(text, chr(10)) AS ls,
    list_filter(string_split(text, chr(10)), {line_ok}) AS kept
  FROM lineified
),
c AS (
  SELECT doc_id, text, ls, kept,
    CASE WHEN text IS NULL THEN NULL
         -- array_to_string([]) is NULL in DuckDB; Spark concat_ws
         -- of an empty array is '' — coalesce to match
         ELSE COALESCE(array_to_string(kept, chr(10)), '') END AS clean_text
  FROM t
)
SELECT doc_id, clean_text,
  CAST(COALESCE(len(ls), 0) AS BIGINT) AS n_lines,
  CAST(CASE WHEN text IS NULL THEN 0 ELSE len(kept) END AS BIGINT) AS n_kept,
  {", ".join(cols)},
  CAST(({keep}) AS BIGINT) AS keep
FROM c"""


_register(
    "filter_c4_rules",
    Query(spark=_c4_spark, sql=_c4_sql()),
)


#: CCNet tertile boundaries — Python/DuckDB double division produce the
#: same IEEE value, so both engines interpolate at identical positions.
CCNET_T1, CCNET_T2 = 1.0 / 3.0, 2.0 / 3.0


def _ccnet_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity buckets (Wenzek et al. 2020 §4.4): score every
    document under the corpus-trained bigram LM
    (:func:`lm_perplexity` — skinny count-table train,
    broadcast-join score), then tier each SOURCE's documents into
    head/middle/tail at its own 1/3 and 2/3 cross-entropy quantiles —
    CCNet keeps head+middle per language; per-source is the same cut on
    this corpus.  The thresholds are one tiny per-source aggregate
    broadcast back (NO per-source sort/ntile — a source holding half the
    corpus never serializes through one task), and the bucket label is a
    row-local comparison of 4dp-quantized values on both engines.  <2-token
    docs have no bigrams and drop out upstream, exactly as in
    ``lm_perplexity``.  At 100 TB, swap the exact percentile for
    ``approx.percentile_auto`` (same aggregate position in the plan)."""
    docs = _docs(spark, sf_dir)
    scored = lm_perplexity(docs).select("doc_id", "cross_entropy")
    # the per-source threshold branch and the output branch both read
    # this join — materialize it once (materialize.shared: checkpoint
    # blocks free with the result, no session-lifetime cache entry —
    # ADVICE r7)
    from ..functions.materialize import shared

    j = shared(scored.join(docs.select("doc_id", "source"), "doc_id"))
    thr = j.groupBy("source").agg(
        round4(F.percentile(F.col("cross_entropy"), F.lit(CCNET_T1))).alias("t1"),
        round4(F.percentile(F.col("cross_entropy"), F.lit(CCNET_T2))).alias("t2"),
    )
    bucket = (
        F.when(F.col("cross_entropy") <= F.col("t1"), F.lit("head"))
        .when(F.col("cross_entropy") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        j.join(F.broadcast(thr), "source")
        .select("doc_id", "source", "cross_entropy", bucket.alias("bucket"))
    )


def _ccnet_sql() -> str:
    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    return f"""
WITH scored AS ({_LM_SQL}),
j AS (
  SELECT s.doc_id, d.source, s.cross_entropy
  FROM scored s JOIN documents d USING (doc_id)
),
thr AS (
  SELECT source,
    {q4(f'quantile_cont(cross_entropy, {CCNET_T1!r})')} AS t1,
    {q4(f'quantile_cont(cross_entropy, {CCNET_T2!r})')} AS t2
  FROM j GROUP BY source
)
SELECT j.doc_id, j.source, j.cross_entropy,
  CASE WHEN j.cross_entropy <= t.t1 THEN 'head'
       WHEN j.cross_entropy <= t.t2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM j JOIN thr t USING (source)"""


_register(
    "filter_ccnet_buckets",
    Query(spark=_ccnet_spark, sql=_ccnet_sql()),
)


# --------------------------------------------------------------------- #
# fastText-style trainable quality classifier (the DCLM / FineWeb-Edu
# selection pattern): hashed bag-of-words + full-batch logistic steps,
# quantized per-iteration so DuckDB replays the whole training run.
# Pseudo-label: lang='en' (the "curated reference" role) — the bigram
# distributions actually differ per language, so the 3-step model beats
# the base rate, making the value hash sensitive to the LEARNING, not
# just the plumbing.
# --------------------------------------------------------------------- #

QLR_B, QLR_ITERS, QLR_LR, QLR_SEED = 256, 3, 50.0, "qlr"


def _qlr_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import classifier

    return classifier.logreg_quality(
        _docs(spark, sf_dir),
        label=(F.col("lang") == "en"),
        buckets=QLR_B,
        iters=QLR_ITERS,
        lr=QLR_LR,
        seed=QLR_SEED,
    )


def _qlr_sql() -> str:
    from ..functions import classifier

    return classifier.logreg_sql(
        "lang = 'en'",
        buckets=QLR_B,
        iters=QLR_ITERS,
        lr=QLR_LR,
        seed=QLR_SEED,
    )


_register(
    "classifier_quality_logreg", Query(spark=_qlr_spark, sql=_qlr_sql())
)


# --------------------------------------------------------------------- #
# PMI collocations (word2vec/Gensim phrase-detection pass)
# --------------------------------------------------------------------- #

PMI_K, PMI_MIN = 30, 5


def _pmi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import pmi_bigrams

    return pmi_bigrams(_docs(spark, sf_dir), top_k=PMI_K, min_count=PMI_MIN)


_PMI_SQL = f"""
WITH pairs AS (
  SELECT string_split(text, ' ')[i] AS w1,
    string_split(text, ' ')[i + 1] AS w2
  FROM documents,
    LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')))) AS i) s
  WHERE text IS NOT NULL
),
c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
  HAVING count(*) >= {PMI_MIN}
),
c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
c2 AS (SELECT w2, count(*) AS c2 FROM pairs GROUP BY w2),
nn AS (SELECT count(*) AS n FROM pairs),
scored AS (
  SELECT p.w1, p.w2, CAST(p.c12 AS BIGINT) AS c12,
    floor(ln(CAST(p.c12 AS DOUBLE) * CAST(nn.n AS DOUBLE)
             / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE)))
          * 1e4 + 0.500000001) / 1e4 AS pmi
  FROM c12 p JOIN c1 USING (w1) JOIN c2 USING (w2), nn
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT)
    AS rank,
  w1, w2, c12, pmi
FROM scored ORDER BY pmi DESC, w1, w2 LIMIT {PMI_K}"""


_register("text_pmi_bigrams", Query(spark=_pmi_spark, sql=_PMI_SQL))


# --------------------------------------------------------------------- #
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — MOSS)
# --------------------------------------------------------------------- #

WIN_K, WIN_W, WIN_MIN_SHARED, WIN_MAX_DF = 4, 5, 2, 0.5


def _winnow_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import winnow_pairs

    return winnow_pairs(
        _docs(spark, sf_dir),
        k=WIN_K,
        w=WIN_W,
        min_shared=WIN_MIN_SHARED,
        max_df_frac=WIN_MAX_DF,
    ).select(
        "ia", "ib", F.col("n_shared").cast("long").alias("n_shared")
    )


def _winnow_sql() -> str:
    from ..functions.dedup import WINNOW_POS_SPACE

    gram = f"array_to_string(list_slice(ws, i, i + {WIN_K - 1}), ' ')"
    gh = (
        f"CAST(('0x' || substr(md5({gram}), 1, 15)) AS BIGINT)"
        f" % 2147483647"
    )
    ps = WINNOW_POS_SPACE
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, i AS pos, {gh} AS gh
  FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - {WIN_K - 1})) AS i
    FROM w WHERE len(ws) >= {WIN_K}
  )
),
keyed AS (
  SELECT doc_id, pos, gh * {ps} + ({ps} - pos) AS k,
    count(*) OVER (PARTITION BY doc_id) AS gcnt,
    min(gh * {ps} + ({ps} - pos)) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS m
  FROM g
),
sel AS (
  -- integer division: CAST(m / ps AS BIGINT) ROUNDS in DuckDB while
  -- Spark's .cast('long') truncates — any position <= 2^19 would decode
  -- to gh+1 and silently break cross-doc fingerprint matches
  SELECT DISTINCT doc_id, m // {ps} AS gh
  FROM keyed
  WHERE pos <= gcnt - {WIN_W - 1} OR (gcnt < {WIN_W} AND pos = 1)
),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
ubi AS (
  SELECT gh FROM sel, nd GROUP BY gh, nd.n_docs
  HAVING count(*) > nd.n_docs * {WIN_MAX_DF}
),
pruned AS (
  SELECT s.doc_id, s.gh FROM sel s LEFT JOIN ubi u USING (gh)
  WHERE u.gh IS NULL
)
SELECT a.doc_id AS ia, b.doc_id AS ib,
  CAST(count(*) AS BIGINT) AS n_shared
FROM pruned a JOIN pruned b ON a.gh = b.gh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WIN_MIN_SHARED}"""


_register(
    "dedup_winnowing_pairs",
    Query(spark=_winnow_spark, sql=_winnow_sql()),
)


# --------------------------------------------------------------------- #
# Incremental MinHash dedup: the NEAR-dup sibling of dedup_incremental
# (history = docs with doc_id < MH_SPLIT, batch = the rest)
# --------------------------------------------------------------------- #

MH_SPLIT, MH_MIN_BANDS = 250, 1


def _mh_inc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import batch_band_keys, minhash_dedup_against_corpus

    docs = _docs(spark, sf_dir)
    store = batch_band_keys(docs.filter(F.col("doc_id") < MH_SPLIT))
    batch = docs.filter(F.col("doc_id") >= MH_SPLIT)
    out = minhash_dedup_against_corpus(
        batch, store, min_bands=MH_MIN_BANDS
    )
    return out.select(
        "doc_id",
        "n_store_bands",
        F.col("dup_in_batch").cast("long").alias("dup_in_batch"),
        F.col("keep").cast("long").alias("keep"),
    )


def _mh_inc_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, h{bi * 2 + 1} AS k1, h{bi * 2 + 2} AS k2 FROM sig"
        for bi in range(4)
    )
    return f"""
WITH {_minhash_sig_ctes()},
allb AS ({band_rows}),
sb AS (SELECT DISTINCT band, k1, k2 FROM allb WHERE doc_id < {MH_SPLIT}),
bb AS (SELECT * FROM allb WHERE doc_id >= {MH_SPLIT}),
store_hits AS (
  SELECT b.doc_id, count(DISTINCT b.band) AS nsb
  FROM bb b JOIN sb USING (band, k1, k2) GROUP BY 1
),
ip AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS nb
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
    AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dropped AS (SELECT DISTINCT ib AS doc_id FROM ip WHERE nb >= {MH_MIN_BANDS})
SELECT d.doc_id,
  CAST(COALESCE(s.nsb, 0) AS BIGINT) AS n_store_bands,
  CAST(dr.doc_id IS NOT NULL AS BIGINT) AS dup_in_batch,
  CAST(COALESCE(s.nsb, 0) < {MH_MIN_BANDS} AND dr.doc_id IS NULL AS BIGINT)
    AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id >= {MH_SPLIT}) d
LEFT JOIN store_hits s USING (doc_id)
LEFT JOIN dropped dr USING (doc_id)"""


_register(
    "dedup_minhash_incremental",
    Query(spark=_mh_inc_spark, sql=_mh_inc_sql()),
)


# --------------------------------------------------------------------- #
# Quality ensemble vote: Gopher hard rules + heuristic quality quantile
# + corpus-LM perplexity band + repetition signals, majority-kept.  The
# "one call" a curation pipeline actually makes — any single filter
# over-prunes; the vote is the standard composition.
# --------------------------------------------------------------------- #

ENS_Q, ENS_TOPBG, ENS_DUPW, ENS_MIN_VOTES = 0.2, 0.2, 0.6, 3


def _ensemble_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: gopher/quality/repetition votes are row-local or
    count-shaped; the two global inputs (quality cutoff, per-source
    perplexity tertile) are tiny aggregates broadcast back; the final
    combine is four left joins on the id followed by row-local vote
    arithmetic."""
    from ..functions.text import (
        gopher_rules,
        repetition_signals,
        with_quality_score,
    )

    docs = _docs(spark, sf_dir)
    g = gopher_rules(docs).select("doc_id", F.col("keep").alias("v_gopher"))
    qs = with_quality_score(docs).select(
        "doc_id", round4(F.col("quality_score")).alias("_qsc")
    )
    cut = qs.agg(
        round4(F.percentile(F.col("_qsc"), F.lit(ENS_Q))).alias("_cut")
    )
    vq = qs.crossJoin(F.broadcast(cut)).select(
        "doc_id", (F.col("_qsc") >= F.col("_cut")).alias("v_quality")
    )
    scored = lm_perplexity(docs).select("doc_id", "cross_entropy")
    # the per-source threshold branch and the output branch both read
    # this join — materialize it once (materialize.shared: checkpoint
    # blocks free with the result, no session-lifetime cache entry —
    # ADVICE r7)
    from ..functions.materialize import shared

    j = shared(scored.join(docs.select("doc_id", "source"), "doc_id"))
    thr = j.groupBy("source").agg(
        round4(F.percentile(F.col("cross_entropy"), F.lit(CCNET_T2))).alias(
            "_t2"
        )
    )
    vp = j.join(F.broadcast(thr), "source").select(
        "doc_id", (F.col("cross_entropy") <= F.col("_t2")).alias("v_ppl")
    )
    vr = repetition_signals(docs).select(
        "doc_id",
        (
            (F.col("top_bigram_frac") <= ENS_TOPBG)
            & (F.col("dup_word_frac") <= ENS_DUPW)
        ).alias("v_rep"),
    )
    out = (
        docs.select("doc_id")
        .join(g, "doc_id", "left")
        .join(vq, "doc_id", "left")
        .join(vp, "doc_id", "left")
        .join(vr, "doc_id", "left")
    )
    votes = [
        F.coalesce(F.col(c), F.lit(False)).cast("long").alias(c)
        for c in ("v_gopher", "v_quality", "v_ppl", "v_rep")
    ]
    out = out.select("doc_id", *votes)
    n_votes = sum(F.col(c) for c in ("v_gopher", "v_quality", "v_ppl", "v_rep"))
    return out.withColumn("n_votes", n_votes.cast("long")).withColumn(
        "keep", (F.col("n_votes") >= ENS_MIN_VOTES).cast("long")
    )


def _ensemble_sql() -> str:
    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    gflags = _gopher_flag_exprs()
    gkeep = " AND ".join(f"COALESCE({e}, false)" for e in gflags.values())
    votes = ["v_gopher", "v_quality", "v_ppl", "v_rep"]
    vcols = ", ".join(
        f"CAST(COALESCE({v}, false) AS BIGINT) AS {v}" for v in votes
    )
    nv = " + ".join(f"CAST(COALESCE({v}, false) AS BIGINT)" for v in votes)
    return f"""
WITH w AS (
  SELECT doc_id, text,
    string_split(text, ' ') AS ws,
    string_split(text, chr(10)) AS ls
  FROM documents
),
gv AS (SELECT doc_id, ({gkeep}) AS v_gopher FROM w),
m AS (
  SELECT doc_id, text, ws,
    {_qscore_m_fields()}
  FROM w
),
scoredq AS (SELECT doc_id, {_qscore_expr()} AS qsc FROM m),
cutq AS (SELECT {q4(f'quantile_cont(qsc, {ENS_Q})')} AS c FROM scoredq),
qv AS (SELECT doc_id, qsc >= cutq.c AS v_quality FROM scoredq, cutq),
lmscored AS ({_LM_SQL}),
jj AS (
  SELECT s.doc_id, d.source, s.cross_entropy
  FROM lmscored s JOIN documents d USING (doc_id)
),
thr AS (
  SELECT source, {q4(f'quantile_cont(cross_entropy, {CCNET_T2!r})')} AS t2
  FROM jj GROUP BY source
),
pv AS (
  SELECT jj.doc_id, jj.cross_entropy <= t.t2 AS v_ppl
  FROM jj JOIN thr t USING (source)
),
rowstats AS (
  SELECT doc_id,
    1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac
  FROM w
),
bg AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM w WHERE len(ws) >= 2
),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
ba AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS tot_bg FROM bc GROUP BY doc_id),
rv AS (
  SELECT r.doc_id,
    (CAST(a.top_bg AS DOUBLE) / a.tot_bg <= {ENS_TOPBG}
     AND r.dup_word_frac <= {ENS_DUPW}) AS v_rep
  FROM rowstats r JOIN ba a USING (doc_id)
),
alls AS (
  SELECT w.doc_id, gv.v_gopher, qv.v_quality, pv.v_ppl, rv.v_rep
  FROM w
  LEFT JOIN gv USING (doc_id)
  LEFT JOIN qv USING (doc_id)
  LEFT JOIN pv USING (doc_id)
  LEFT JOIN rv USING (doc_id)
)
SELECT doc_id, {vcols},
  CAST({nv} AS BIGINT) AS n_votes,
  CAST(({nv}) >= {ENS_MIN_VOTES} AS BIGINT) AS keep
FROM alls"""


_register(
    "filter_quality_ensemble",
    Query(spark=_ensemble_spark, sql=_ensemble_sql()),
)


# --------------------------------------------------------------------- #
# Content-defined chunking dedup (the storage-dedup classic; boundaries
# move with content, so edits only perturb one chunk)
# --------------------------------------------------------------------- #


def _cdc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import cdc_dedup_stats

    return cdc_dedup_stats(_docs(spark, sf_dir))


def _cdc_sql() -> str:
    from ..functions.dedup import CDC_MOD

    h31 = "CAST(('0x' || substr(md5(ws[i]), 1, 15)) AS BIGINT) % 2147483647"
    return f"""
WITH ex AS (
  SELECT doc_id, i AS pos, ws[i] AS w,
    CAST(({h31}) % {CDC_MOD} = 0 AS INT) AS b
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE text IS NOT NULL),
    LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) s
),
cid AS (
  SELECT doc_id, pos, w,
    CAST(COALESCE(sum(b) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS chunk_id
  FROM ex
),
ch AS (
  SELECT doc_id, chunk_id,
    md5(string_agg(w, ' ' ORDER BY pos)) AS chash,
    count(*) AS n_words
  FROM cid GROUP BY 1, 2
),
dup AS (SELECT chash FROM ch GROUP BY chash HAVING count(*) >= 2),
flagged AS (
  SELECT c.doc_id, count(*) AS n_dup_chunks, sum(c.n_words) AS dup_words
  FROM ch c JOIN dup d USING (chash) GROUP BY 1
),
base AS (
  SELECT doc_id, count(*) AS n_chunks, sum(n_words) AS total_words
  FROM ch GROUP BY 1
)
SELECT b.doc_id,
  CAST(b.n_chunks AS BIGINT) AS n_chunks,
  CAST(COALESCE(f.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
  CAST(COALESCE(f.dup_words, 0) AS BIGINT) AS dup_words,
  CAST(b.total_words AS BIGINT) AS total_words
FROM base b LEFT JOIN flagged f USING (doc_id)"""


_register(
    "chunk_cdc_dedup",
    Query(spark=_cdc_spark, sql=_cdc_sql()),
)


# --------------------------------------------------------------------- #
# Quality-aware near-dup canonical: keep each cluster's best-quality
# member instead of the min id (the production refinement).
# --------------------------------------------------------------------- #


def _keep_best_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import lsh_dedup_keep_best
    from ..functions.text import with_quality_score

    docs = _docs(spark, sf_dir)
    q = with_quality_score(docs).select(
        "doc_id", round4(F.col("quality_score")).alias("quality")
    )
    out = lsh_dedup_keep_best(docs, q, quality_col="quality")
    return out.select(
        "doc_id",
        "component",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "quality",
        F.col("is_canonical").cast("long").alias("is_canonical"),
    )


def _keep_best_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (SELECT ia, ib FROM cand GROUP BY ia, ib),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs
  UNION ALL
  SELECT ib AS a, ia AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS lab FROM edges
  UNION
  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
m AS (
  SELECT doc_id, text, ws,
    {_qscore_m_fields()}
  FROM w
),
qsc AS (
  SELECT doc_id, {_qscore_expr()} AS quality FROM m
),
fullq AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, q.quality
  FROM documents d
  LEFT JOIN comp c ON c.id = d.doc_id
  LEFT JOIN qsc q USING (doc_id)
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM fullq GROUP BY component
),
rk AS (
  SELECT doc_id,
    row_number() OVER (
      PARTITION BY component
      ORDER BY COALESCE(quality, -1e9) DESC, doc_id) AS rn
  FROM fullq
)
SELECT f.doc_id, f.component,
  CAST(s.cluster_size AS BIGINT) AS cluster_size,
  f.quality,
  CAST(r.rn = 1 AS BIGINT) AS is_canonical
FROM fullq f
JOIN sizes s USING (component)
JOIN rk r USING (doc_id)"""


_register(
    "dedup_cc_keep_best",
    Query(spark=_keep_best_spark, sql=_keep_best_sql()),
)


# --------------------------------------------------------------------- #
# Intra-document line dedup (keep-first).  The self-repetition complement
# of `dedup_lines_global`: repeats of a line WITHIN one document are
# removed, first occurrence kept.  Runs on the k=2 lineification (2-word
# lines), where the synthetic corpus has ~250 intra-doc repeats across
# ~180 docs at sf0.01 — the k=3 global-dedup derivation has almost none,
# so it would test nothing here.  Local parity pinned in
# tests/test_oracle_parity_r9.py; plan pinned in tests/test_plans_r9.py.
# --------------------------------------------------------------------- #

SELF_LINE_K = 2


def _line_selfdedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import line_dedup_within_doc

    derived = _lineify(_docs(spark, sf_dir), SELF_LINE_K)
    return line_dedup_within_doc(derived).select(
        "doc_id", "clean_text", "n_lines", "n_removed"
    )


def _line_selfdedup_sql(k: int = SELF_LINE_K) -> str:
    return f"""
WITH {_lineify_sql(k)[1:]},
t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lineified),
ex AS (
  SELECT doc_id, i, ls[i] AS line,
    row_number() OVER (PARTITION BY doc_id, md5(ls[i]) ORDER BY i) AS rn
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM t)
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(line, chr(10) ORDER BY i) AS txt
  FROM ex WHERE rn = 1 GROUP BY 1
)
SELECT t.doc_id,
  CASE WHEN t.text IS NULL THEN NULL ELSE COALESCE(r.txt, '') END
    AS clean_text,
  CAST(COALESCE(len(t.ls), 0) AS BIGINT) AS n_lines,
  CAST(COALESCE(len(t.ls), 0) - COALESCE(r.n_kept, 0) AS BIGINT)
    AS n_removed
FROM t LEFT JOIN reb r USING (doc_id)"""


_register(
    "dedup_lines_within_doc",
    Query(spark=_line_selfdedup_spark, sql=_line_selfdedup_sql()),
)


# --------------------------------------------------------------------- #
# BPE merge learning.  The iterative tokenizer trainer
# (`text.bpe_learn_merges`) over the documents corpus: each step's
# winning pair is replayed by the oracle as an unrolled CTE chain — pair
# counts from the current vocab state, a 1-row ORDER BY/LIMIT selection,
# and the two-space literal-replace merge application (engine-portable
# by construction; no regex). Local parity + brute-force trajectory
# pinned in tests/test_oracle_parity_r9.py.
# --------------------------------------------------------------------- #

BPE_MERGES = 4
BPE_MAX_WORD = 32


def _bpe_merges_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_learn_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn_merges(
        docs, n_merges=BPE_MERGES, max_word_len=BPE_MAX_WORD
    )


def _bpe_char_split_sql(expr: str) -> str:
    """DuckDB rendering of ``_bpe_char_syms``: characters of ``expr``
    joined by TWO spaces (the trainer/encoder shared symbol encoding)."""
    return (
        f"array_to_string(list_transform(generate_series(1, length({expr})),"
        f" i -> substring({expr}, i, 1)), '  ')"
    )


def _bpe_merge_step_sql(s_expr: str, pair_subq: str) -> str:
    """DuckDB rendering of ``_bpe_merge_step``: the one-space-consuming
    literal replace that applies one merge to a two-space symbol string
    (``pair_subq`` is a scalar subquery yielding the ``'a b'`` pair)."""
    return f"""trim(replace('  ' || {s_expr} || '  ',
    ' ' || replace({pair_subq}, ' ', '  ') || ' ',
    ' ' || replace({pair_subq}, ' ', '') || ' '))"""


def _bpe_trainer_ctes(k: int, max_word: int) -> list[str]:
    """The unrolled trainer CTE chain shared by the trajectory oracle
    (:func:`_bpe_merges_sql`) and the encoder oracle (:func:`_bpe_encode_sql`):
    ``wc`` word counts, ``w0`` char-split vocab, and per step ``p{t}``
    pair counts / ``m{t}`` winner / ``w{t}`` merged vocab.  ``w{k}``
    (the post-final-merge vocab) is never emitted — the trajectory
    output doesn't need it and the encoder restarts every word from
    characters."""
    ctes = [
        f"""wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
    SELECT substring(w, 1, {max_word}) AS w FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL)
    WHERE w != '') GROUP BY w
),
w0 AS (
  SELECT {_bpe_char_split_sql('w')} AS s, wc
  FROM wc
)"""
    ]
    for t in range(1, k + 1):
        prev = f"w{t - 1}"
        ctes.append(
            f"""p{t} AS (
  SELECT pr, sum(wc) AS c FROM (
    SELECT unnest(list_transform(
      generate_series(1, len(string_split(s, '  ')) - 1),
      i -> string_split(s, '  ')[i] || ' ' || string_split(s, '  ')[i + 1]
    )) AS pr, wc
    FROM {prev}) GROUP BY pr
),
m{t} AS (SELECT pr, c FROM p{t} ORDER BY c DESC, pr LIMIT 1)"""
        )
        if t < k:
            ctes.append(
                f"""w{t} AS (
  SELECT {_bpe_merge_step_sql('s', f'(SELECT pr FROM m{t})')} AS s, wc
  FROM {prev}
)"""
            )
    return ctes


def _bpe_merges_sql(
    k: int = BPE_MERGES, max_word: int = BPE_MAX_WORD
) -> str:
    """Unrolled replay of the merge trajectory: w0 is the char-split
    vocab (two-space symbol joins), step t counts pairs of w{t-1},
    picks m{t} by (count desc, pair asc), and w{t} applies the merge
    with the one-space-consuming literal replace."""
    rows = [
        f"SELECT CAST({t} AS BIGINT) AS rank, pr AS pair,"
        f" replace(pr, ' ', '') AS merged, CAST(c AS BIGINT) AS cnt"
        f" FROM m{t}"
        for t in range(1, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(_bpe_trainer_ctes(k, max_word))
        + "\n"
        + "\nUNION ALL\n".join(rows)
    )


_register(
    "text_bpe_merges",
    Query(spark=_bpe_merges_spark, sql=_bpe_merges_sql()),
)


# --------------------------------------------------------------------- #
# BPE encoding with a corpus-learned table.  Driver evidence for the
# ENCODER half of the BPE family (`text.bpe_apply_merges`, currently
# local-pins-only): learn the first 4 merges on the documents corpus
# (the same trajectory the `text_bpe_merges` prep verifies), then encode
# every document with them and emit the per-doc post-merge token
# count.  The oracle replays BOTH halves in one statement: the trainer's
# unrolled m1..m4 CTEs (shared generator `_bpe_trainer_ctes`), then
# per-word char-split + the same four literal-replace merge steps,
# summed per document — so a hash match certifies train→encode parity
# end-to-end, not just the encoder in isolation.  Runs the DEFAULT encode
# arm — since r11 the Arrow rank-dict UDF at any table size
# (bench_scale.py measured it faster than the expression chain at every
# size); the opt-in chain arm stays pinned count-identical locally
# (tests/test_oracle_parity_r9.py::test_bpe_apply_merges_roundtrip).
# Output is keyed on non-NULL doc_id (the join-replay contract; a NULL
# id cannot be joined back portably), NULL text → NULL count, empty text
# → 0.
# --------------------------------------------------------------------- #


def _bpe_encode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.text import bpe_apply_merges, bpe_learn_merges

    docs = load_table(spark, sf_dir, "documents")
    # trainer input = the full corpus (identical to text_bpe_merges);
    # the 4 learned pairs are the usual K-driver-literals budget
    # explicit rank order: collect() row order is contract-free for an
    # unsorted DataFrame, and an out-of-rank-order table would encode
    # silently wrong (r10 review)
    merges = [
        r["pair"]
        for r in bpe_learn_merges(
            docs, n_merges=BPE_MERGES, max_word_len=BPE_MAX_WORD
        )
        .orderBy("rank")
        .collect()
    ]
    enc_in = docs.select("doc_id", "text").filter(F.col("doc_id").isNotNull())
    return bpe_apply_merges(
        enc_in, merges, max_word_len=BPE_MAX_WORD
    ).select("doc_id", "bpe_tokens")


def _bpe_encode_sql(
    k: int | None = None, max_word: int | None = None
) -> str:
    k = BPE_MERGES if k is None else k
    max_word = BPE_MAX_WORD if max_word is None else max_word
    ctes = _bpe_trainer_ctes(k, max_word)
    # per-word occurrence stream of the ENCODE side (non-NULL ids)
    ctes.append(
        f"""dw AS (
  SELECT doc_id, substring(w, 1, {max_word}) AS w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
  WHERE w != ''
)"""
    )
    ctes.append(f"s0 AS (SELECT doc_id, {_bpe_char_split_sql('w')} AS s FROM dw)")
    for t in range(1, k + 1):
        step = _bpe_merge_step_sql("s", f"(SELECT pr FROM m{t})")
        ctes.append(f"s{t} AS (SELECT doc_id, {step} AS s FROM s{t - 1})")
    ctes.append(
        f"""tok AS (
  SELECT doc_id, CAST(sum(len(string_split(s, '  '))) AS BIGINT) AS tok
  FROM s{k} GROUP BY doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT d.doc_id,
  CASE WHEN d.text IS NULL THEN NULL
       ELSE COALESCE(t.tok, 0) END AS bpe_tokens
FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id
WHERE d.doc_id IS NOT NULL"""
    )


_register(
    "text_bpe_encode",
    Query(spark=_bpe_encode_spark, sql=_bpe_encode_sql()),
)


# --------------------------------------------------------------------- #
# Prefix-filtered Jaccard join.  Driver evidence for
# `dedup.jaccard_prefix_pairs` (AllPairs/PPJoin candidate generation —
# see its docstring for the theorem and the 100 TB case). Output is
# DEFINED identical to the plain posting-list operator at the same
# settings (pinned in tests/test_oracle_parity_r10.py), so the oracle is
# the plain relational Jaccard spec — the registered row then certifies
# the prefix path against engine-independent truth, the
# `lineitem_rsi_halo` precedent of a twin row whose purpose is the other
# execution strategy.  τ = 0.7 (vs the sibling's 0.8) exercises DEEPER
# prefixes — more of the candidate machinery per doc.
# --------------------------------------------------------------------- #

JP_THRESHOLD = 0.7
JP_MAX_DF_FRAC = 0.8


def _jaccard_prefix_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_pairs(
        docs, threshold=JP_THRESHOLD, max_df_frac=JP_MAX_DF_FRAC
    ).select("ia", "ib", round4(F.col("jaccard")).alias("jaccard"))


def _jaccard_prefix_sql(
    threshold: float = JP_THRESHOLD, max_df_frac: float = JP_MAX_DF_FRAC
) -> str:
    return f"""
WITH toks0 AS (
  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
dfreq AS (
  SELECT tok, count(*) AS df FROM toks0 GROUP BY tok
),
ndocs AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
),
toks AS (
  SELECT t.id, t.tok
  FROM toks0 t JOIN dfreq f ON f.tok = t.tok, ndocs
  WHERE f.df <= n_docs * {max_df_frac}
),
sizes AS (
  SELECT id, count(*) AS sz FROM toks GROUP BY id
),
shared AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id
),
j AS (
  SELECT ia, ib,
    CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
  FROM shared
  JOIN sizes sa ON sa.id = ia
  JOIN sizes sb ON sb.id = ib
)
SELECT ia, ib, {_r("jaccard", "jaccard")} FROM j
WHERE jaccard >= {threshold}"""


_register(
    "dedup_jaccard_prefix",
    Query(spark=_jaccard_prefix_spark, sql=_jaccard_prefix_sql()),
)


# --------------------------------------------------------------------- #
# Per-source quality-score quantile normalization.  Calibrates each
# source's n_chars profile onto the pooled corpus distribution
# (sampling.quantile_normalize_by_group): within-source percent_rank →
# pooled interpolated quantile at that rank, with the interpolation
# INDEX in exact integer arithmetic so the kept values replay
# bit-for-bit in the oracle.  The Spark side runs the range-bucket rank
# kernel (scale.grouped_row_number, grouped and global) — no per-source
# single-task window — while the oracle states the same semantics with
# plain window functions.
# --------------------------------------------------------------------- #


def _qnorm_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.sampling import quantile_normalize_by_group

    docs = load_table(spark, sf_dir, "documents")
    out = quantile_normalize_by_group(
        docs, value_col="n_chars", group_col="source", key_col="doc_id"
    )
    return out.select(
        "doc_id",
        "source",
        F.col("_v").cast("long").alias("n_chars"),
        round4(F.col("_pct")).alias("src_pct"),
        round4(F.col("_calib")).alias("calib"),
    )


_QNORM_SQL = """
WITH base AS (
  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS v
  FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL AND doc_id IS NOT NULL
),
g AS (
  SELECT doc_id, source, v,
    row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
    count(*) OVER (PARTITION BY source) AS n
  FROM base
),
p AS (
  SELECT v AS pv, row_number() OVER (ORDER BY v, doc_id) AS gidx FROM base
),
scal AS (SELECT count(*) AS ntot FROM base),
calc AS (
  SELECT doc_id, source, v, r, n,
    CASE WHEN n > 1 THEN ((r - 1) * (ntot - 1)) // (n - 1) ELSE 0 END AS idx,
    CASE WHEN n > 1 THEN ((r - 1) * (ntot - 1)) % (n - 1) ELSE 0 END AS rem
  FROM g, scal
),
jn AS (
  SELECT c.*, lo.pv AS vlo, COALESCE(hi.pv, lo.pv) AS vhi
  FROM calc c
  JOIN p lo ON lo.gidx = c.idx + 1
  LEFT JOIN p hi ON hi.gidx = c.idx + 2
)
SELECT doc_id, source, CAST(v AS BIGINT) AS n_chars,
  {pct}, {calib}
FROM jn"""


def _qnorm_sql() -> str:
    pct = _r(
        "CASE WHEN n > 1 THEN CAST(r - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)"
        " ELSE 0.0 END",
        "src_pct",
    )
    calib = _r(
        "vlo + (vhi - vlo) * (CASE WHEN n > 1 THEN"
        " CAST(rem AS DOUBLE) / CAST(n - 1 AS DOUBLE) ELSE 0.0 END)",
        "calib",
    )
    return _QNORM_SQL.format(pct=pct, calib=calib)


_register(
    "quality_quantile_normalize",
    Query(spark=_qnorm_spark, sql=_qnorm_sql()),
)


# --------------------------------------------------------------------- #
# Fuzzy decontamination (R–S set-similarity
# join).  `dedup.jaccard_join_prefix` of the corpus against a held-out
# "benchmark" slice (doc_id % 20 == 0): every corpus document that
# near-duplicates a benchmark document at token-Jaccard ≥ 0.7 — the
# lightly-edited-overlap complement of `decontaminate_ngram`'s exact
# 8-gram rule.  The oracle replays the plain cross-side Jaccard
# relationally (prefix filtering is output-neutral by the AllPairs
# theorem, pinned in tests), over the same union-side token df prune.
# --------------------------------------------------------------------- #

DECON_MOD = 20
DECON_THRESHOLD = 0.7
DECON_MAX_DF_FRAC = 0.8


def _decon_neardup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.dedup import jaccard_join_prefix

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) != 0)
    out = jaccard_join_prefix(
        corpus,
        bench,
        threshold=DECON_THRESHOLD,
        max_df_frac=DECON_MAX_DF_FRAC,
    )
    return out.select(
        F.col("ia").alias("doc_id"),
        F.col("ib").alias("bench_id"),
        round4(F.col("jaccard")).alias("jaccard"),
    )


def _decon_neardup_sql(
    mod: int = DECON_MOD,
    threshold: float = DECON_THRESHOLD,
    max_df_frac: float = DECON_MAX_DF_FRAC,
) -> str:
    return f"""
WITH toks0 AS (
  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
dfreq AS (
  SELECT tok, count(*) AS df FROM toks0 GROUP BY tok
),
ndocs AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
),
toks AS (
  SELECT t.id, t.tok
  FROM toks0 t JOIN dfreq f ON f.tok = t.tok, ndocs
  WHERE f.df <= n_docs * {max_df_frac}
),
corp AS (SELECT * FROM toks WHERE id % {mod} != 0),
bench AS (SELECT * FROM toks WHERE id % {mod} = 0),
sza AS (SELECT id, count(*) AS sz FROM corp GROUP BY id),
szb AS (SELECT id, count(*) AS sz FROM bench GROUP BY id),
shared AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS shared
  FROM corp a JOIN bench b ON a.tok = b.tok
  GROUP BY a.id, b.id
),
j AS (
  SELECT ia, ib,
    CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
  FROM shared
  JOIN sza sa ON sa.id = ia
  JOIN szb sb ON sb.id = ib
)
SELECT ia AS doc_id, ib AS bench_id, {_r("jaccard", "jaccard")} FROM j
WHERE jaccard >= {threshold}"""


_register(
    "decontaminate_neardup",
    Query(spark=_decon_neardup_spark, sql=_decon_neardup_sql()),
)
