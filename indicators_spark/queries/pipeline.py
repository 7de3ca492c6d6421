"""Pipeline family: deterministic sampling (hash, stratified, capped,
DSIR, distribution matching, curriculum), dataset mixture (temperature,
DoReMi, token budgets, plan execution), sequence packing, splits,
k-means training and end-to-end corpus pipelines over ``documents``.

Everything here is reproducible-by-construction (content-hash decisions,
see functions/sampling.py) so the DuckDB oracle can replay each operator
bit-exactly.  These extend the north-star scope (SURVEY.md §7 / the
100 TB corpus-construction use case); the reference library has no
sampling/packing surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import sampling, similarity, text
from ..sources.prices import load_table
from ._base import Query, _docs, _norm_sql, _r, _register, round4
from .corpus import (
    _LM_SQL,
    C4_K,
    CCNET_T1,
    CCNET_T2,
    LINE_MIN_DF,
    _c4_flag_exprs,
    _c4_line_ok,
    _lineify,
    _lineify_sql,
    _qscore_expr,
    _qscore_m_fields,
    lm_perplexity,
)
from .ext import _minhash_ctes


# --------------------------------------------------------------------- #
# Uniform deterministic sample
# --------------------------------------------------------------------- #

_register(
    "sample_hash_10pct",
    Query(
        spark=lambda s, d: sampling.hash_sample(
            _docs(s, d), "doc_id", 0.10
        ).select("doc_id", "source", "n_chars"),
        sql=f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE {sampling.bucket_sql('doc_id', 's42')} < 1000""",
    ),
)


# --------------------------------------------------------------------- #
# Stratified (per-source) sample = mixture weights
# --------------------------------------------------------------------- #

_RATES = {"src0": 0.5, "src1": 0.5, "src2": 0.25, "src3": 0.25}
_DEFAULT_RATE = 0.05

_register(
    "sample_stratified_sources",
    Query(
        spark=lambda s, d: sampling.stratified_sample(
            _docs(s, d), "doc_id", "source", _RATES, _DEFAULT_RATE
        ).select("doc_id", "source", "lang"),
        sql=f"""
SELECT doc_id, source, lang
FROM documents
WHERE {sampling.bucket_sql('doc_id', 's42')} <
  CASE WHEN source IN ('src0', 'src1') THEN 5000
       WHEN source IN ('src2', 'src3') THEN 2500
       ELSE 500 END""",
    ),
)


# --------------------------------------------------------------------- #
# Weighted two-way mixture (sample + tag + union + summarize)
# --------------------------------------------------------------------- #


def _mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compose a corpus as 50% of English docs + 10% of everything else,
    then summarize the blend.  The union of two hash-sampled branches of
    the same scan stays a single-pass plan (no shuffle until the final
    1-row agg)."""
    docs = _docs(spark, sf_dir)
    toks = F.size(F.split(F.col("text"), " "))
    hi = sampling.hash_sample(
        docs.filter(F.col("lang") == "en"), "doc_id", 0.5, seed="mix"
    ).withColumn("bucket", F.lit("en_half"))
    lo = sampling.hash_sample(
        docs.filter(F.col("lang") != "en"), "doc_id", 0.1, seed="mix"
    ).withColumn("bucket", F.lit("rest_tenth"))
    return (
        hi.unionByName(lo)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).alias("total_tokens"),
        )
    )


_register(
    "mixture_weighted",
    Query(
        spark=_mixture,
        sql=f"""
WITH tagged AS (
  SELECT CASE WHEN lang = 'en' THEN 'en_half' ELSE 'rest_tenth' END AS bucket,
         len(string_split(text, ' ')) AS toks
  FROM documents
  WHERE ({sampling.bucket_sql('doc_id', 'mix')} <
         CASE WHEN lang = 'en' THEN 5000 ELSE 1000 END)
)
SELECT bucket, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens
FROM tagged GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Sequence packing into fixed token budgets
# --------------------------------------------------------------------- #


def _pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn(
        "tokens", F.size(F.split(F.col("text"), " "))
    )
    packed = sampling.pack_sequences(
        docs, shard="lang", order="doc_id", tokens="tokens", capacity=512
    )
    return packed.select("doc_id", "lang", "tokens", "pack_id")


_register(
    "pack_sequences_512",
    Query(
        spark=_pack,
        sql="""
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS tokens FROM documents
)
SELECT doc_id, lang, tokens,
  CAST(floor(coalesce(sum(tokens) OVER (
    PARTITION BY lang ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT)
  AS pack_id
FROM t""",
    ),
)


# --------------------------------------------------------------------- #
# Text normalization
# --------------------------------------------------------------------- #

# --------------------------------------------------------------------- #
# End-to-end corpus-construction pipeline
# --------------------------------------------------------------------- #


def _doc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data flow as ONE declarative plan: normalize →
    quality filter → exact dedup (on normalized text) → deterministic 50%
    sample → join embeddings → per-language corpus stats.

    Scale shape: everything up to the dedup window is a row-local
    projection fused into the scan; the dedup shuffles once on the text
    hash, the embedding equi-join shuffles both sides on the id (neither
    side is broadcastable at 100 TB), and the final agg is partial-agg
    friendly.  Catalyst prunes ``documents`` to (doc_id, lang, text) and
    ``embeddings`` to (vec_id, embedding)."""
    docs = text.with_normalized(load_table(spark, sf_dir, "documents"))
    docs = docs.withColumn("toks", F.size(F.split(F.col("norm_text"), " ")))
    docs = docs.filter(F.col("toks") >= 5)
    w = Window.partitionBy(F.md5(F.col("norm_text"))).orderBy("doc_id")
    deduped = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    sampled = sampling.hash_sample(deduped, "doc_id", 0.5, seed="pipe")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.norm(F.col("embedding")).alias("emb_norm")
    )
    joined = sampled.join(emb, sampled.doc_id == emb.vec_id)
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.avg("emb_norm").alias("avg_emb_norm"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            round4(F.col("avg_emb_norm")).alias("avg_emb_norm"),
        )
    )


def _doc_pipeline_sql() -> str:
    return f"""
WITH n AS (
  SELECT doc_id, lang,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         ' +', ' ', 'g')) AS norm_text
  FROM documents
),
t AS (
  SELECT *, len(string_split(norm_text, ' ')) AS toks FROM n
  WHERE len(string_split(norm_text, ' ')) >= 5
),
d AS (
  SELECT *, row_number() OVER (
    PARTITION BY md5(norm_text) ORDER BY doc_id) AS rn
  FROM t
),
s AS (
  SELECT * FROM d
  WHERE rn = 1 AND {sampling.bucket_sql('doc_id', 'pipe')} < 5000
),
j AS (
  SELECT s.lang, s.toks, {_norm_sql('e.embedding')} AS emb_norm
  FROM s JOIN embeddings e ON s.doc_id = e.vec_id
)
SELECT lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens,
  {_r('avg(emb_norm)', 'avg_emb_norm')}
FROM j GROUP BY 1"""


_register(
    "doc_pipeline_corpus",
    Query(spark=_doc_pipeline, sql=_doc_pipeline_sql()),
)


_register(
    "text_normalize",
    Query(
        spark=lambda s, d: text.with_normalized(_docs(s, d)).select(
            "doc_id", "norm_text"
        ),
        sql="""
SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       ' +', ' ', 'g')) AS norm_text
FROM documents""",
    ),
)


# --------------------------------------------------------------------- #
# Trained IVF coarse quantizer: distributed k-means with exact oracle
# --------------------------------------------------------------------- #

_KM_K = 8
_KM_ITERS = 2
_KM_DIM = 64
_KM_Q = "1000000.0"


def _km_qv(expr: str) -> str:
    return (
        f"list_transform({expr}, x -> "
        f"floor(CAST(x AS DOUBLE) * {_KM_Q} + 0.500000001) / {_KM_Q})"
    )


def _km_sqd(a: str, b: str) -> str:
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - {b}[{i}])"
        f" * (CAST({a}[{i}] AS DOUBLE) - {b}[{i}])"
        for i in range(1, _KM_DIM + 1)
    )
    return f"0.0 + {terms}"


def _km_round(prev_cent: str, idx: int) -> str:
    """One Lloyd round: assign to nearest centroid of ``prev_cent``, then
    per-dimension means → quantized centroids ``c{idx}``."""
    return f"""
s{idx} AS (
  SELECT e.vec_id, e.embedding, c.cid,
    {_km_sqd('e.embedding', 'c.cvec')} AS d
  FROM embeddings e CROSS JOIN {prev_cent} c
),
a{idx} AS (
  SELECT vec_id, embedding, cid AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM s{idx}
  ) WHERE rn = 1
),
m{idx} AS (
  SELECT cluster, r.pos, avg(CAST(embedding[r.pos] AS DOUBLE)) AS v
  FROM a{idx} CROSS JOIN (SELECT unnest(range(1, {_KM_DIM + 1})) AS pos) r
  GROUP BY 1, 2
),
c{idx} AS (
  SELECT cluster AS cid,
    list(floor(v * {_KM_Q} + 0.500000001) / {_KM_Q} ORDER BY pos) AS cvec
  FROM m{idx} GROUP BY 1
)"""


def _km_sql() -> str:
    rounds = ",".join(
        _km_round(f"c{i - 1}" if i > 1 else "c0", i)
        for i in range(1, _KM_ITERS + 1)
    )
    fin = _KM_ITERS + 1
    return f"""
WITH c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, {_km_qv('embedding')} AS cvec
  FROM embeddings WHERE vec_id < {_KM_K}
),{rounds},
s{fin} AS (
  SELECT e.vec_id, c.cid, {_km_sqd('e.embedding', 'c.cvec')} AS d
  FROM embeddings e CROSS JOIN c{_KM_ITERS} c
)
SELECT vec_id, cluster FROM (
  SELECT vec_id, cid AS cluster,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM s{fin}
) WHERE rn = 1"""


_register(
    "kmeans_train_assign",
    Query(
        spark=lambda s, d: similarity.kmeans_lloyd(
            load_table(s, d, "embeddings"), k=_KM_K, iters=_KM_ITERS
        ),
        sql=_km_sql(),
    ),
)


# --------------------------------------------------------------------- #
# Per-source document cap (C4/GPT-style per-domain clip)
# --------------------------------------------------------------------- #

CAP_K, CAP_SEED = 40, "cap42"

_register(
    "sample_cap_per_source",
    Query(
        spark=lambda s, d: sampling.cap_per_key(
            _docs(s, d), group="source", key="doc_id", k=CAP_K, seed=CAP_SEED
        ).select("doc_id", "source"),
        sql=f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY {sampling.unit_sql('doc_id', CAP_SEED)},
               COALESCE(CAST(doc_id AS VARCHAR), '{sampling.NULL_KEY}')
    ) AS rn
  FROM documents
) WHERE rn <= {CAP_K}""",
    ),
)


# --------------------------------------------------------------------- #
# DSIR importance resampling (Xie et al. 2023)
# --------------------------------------------------------------------- #

DSIR_K, DSIR_B, DSIR_ALPHA = 120, 1024, 1.0
DSIR_SEED, DSIR_USEED = "dsir", "dsir-u"
#: target distribution: the English slice (the "high-quality reference"
#: role); raw = the whole corpus.
DSIR_TARGET_LANG = "en"


def _dsir_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == DSIR_TARGET_LANG)
    out = sampling.dsir_sample(
        docs,
        target,
        k=DSIR_K,
        buckets=DSIR_B,
        seed=DSIR_SEED,
        alpha=DSIR_ALPHA,
        u_seed=DSIR_USEED,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("dsir_logw") * 1e4 + F.lit(0.500000001)) / 1e4).alias(
            "dsir_logw"
        ),
        "dsir_score",
    )


_BKT = sampling.bucket_sql("tok", DSIR_SEED, DSIR_B)
_U = sampling.unit_sql("doc_id", DSIR_USEED)

_DSIR_SQL = f"""
WITH rawf AS (
  SELECT doc_id, {_BKT} AS bkt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL)
),
tgtf AS (
  SELECT doc_id, {_BKT} AS bkt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND lang = '{DSIR_TARGET_LANG}')
),
tc AS (SELECT bkt, count(*) AS tc FROM tgtf GROUP BY 1),
rc AS (SELECT bkt, count(*) AS rc FROM rawf GROUP BY 1),
tt AS (SELECT count(*) AS tt FROM tgtf),
rt AS (SELECT count(*) AS rt FROM rawf),
ratio AS (
  SELECT r.bkt,
    ln((COALESCE(t.tc, 0) + {DSIR_ALPHA}) / (tt.tt + {DSIR_ALPHA} * {DSIR_B}))
    - ln((r.rc + {DSIR_ALPHA}) / (rt.rt + {DSIR_ALPHA} * {DSIR_B})) AS lr
  FROM rc r LEFT JOIN tc t USING (bkt), tt, rt
),
lw AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    sum(r.lr) AS dsir_logw
  FROM rawf f JOIN ratio r USING (bkt) GROUP BY 1
),
scored AS (
  SELECT doc_id, n_tokens, dsir_logw,
    floor((ln(-ln({_U})) - dsir_logw) * 1e4 + 0.500000001) / 1e4 AS s
  FROM lw
)
SELECT doc_id, n_tokens, {_r('dsir_logw', 'dsir_logw')},
  s AS dsir_score
FROM scored ORDER BY s, doc_id LIMIT {DSIR_K}"""


_register("sample_dsir", Query(spark=_dsir_spark, sql=_DSIR_SQL))


# --------------------------------------------------------------------- #
# Deterministic epoch shuffle (hash permutation, no global sort)
# --------------------------------------------------------------------- #

EPOCH = 3
EPOCH_SEED = "ep"


def _epoch_shuffle_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = sampling.epoch_shuffle(
        docs, key="doc_id", epoch=EPOCH, seed=EPOCH_SEED
    )
    return out.select("doc_id", "epoch_pos")


# --------------------------------------------------------------------- #
# DSIR full-corpus weights (the audit view of sample_dsir)
# --------------------------------------------------------------------- #


def _dsir_weights_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == DSIR_TARGET_LANG)
    lw = sampling.dsir_log_weights(
        docs, target, buckets=DSIR_B, seed=DSIR_SEED, alpha=DSIR_ALPHA
    )
    return lw.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("dsir_logw") * 1e4 + F.lit(0.500000001)) / 1e4).alias(
            "dsir_logw"
        ),
    )


#: Same CTE chain as _DSIR_SQL, stopping at the per-doc weights (every
#: raw doc, not the resampled top-k) — broader value-hash evidence for
#: the feature/ratio arithmetic itself.
_DSIR_W_SQL = (
    _DSIR_SQL.split(",\nscored AS")[0]
    + f"""
SELECT doc_id, n_tokens, {_r('dsir_logw', 'dsir_logw')}
FROM lw"""
)

_register(
    "sample_dsir_weights", Query(spark=_dsir_weights_spark, sql=_DSIR_W_SQL)
)


_register(
    "sample_epoch_shuffle",
    Query(
        spark=_epoch_shuffle_spark,
        sql=f"""
SELECT doc_id,
  CAST(row_number() OVER (
    ORDER BY md5(concat('{EPOCH_SEED}{EPOCH}|',
      COALESCE(CAST(doc_id AS VARCHAR), '{sampling.NULL_KEY}'))), doc_id
  ) AS BIGINT) AS epoch_pos
FROM documents""",
    ),
)


# --------------------------------------------------------------------- #
# DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi") — the
# multiplicative-weights loop over per-domain excess loss, with the
# corpus bigram LM standing in for the proxy/reference pair: domains
# whose documents the corpus LM finds hardest (positive excess
# cross-entropy) get upweighted, and the published estimator — the
# AVERAGE of the per-step weight vectors — is what ships.
# --------------------------------------------------------------------- #

DOREMI_T, DOREMI_ETA, DOREMI_C = 5, 0.5, 0.1


def _doremi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed part: LM scoring + per-source loss aggregation (the
    same skinny count-table / broadcast-score shape as lm_perplexity).
    The multiplicative-weights loop then runs on DRIVER state — one
    float per domain, the k-means-centroid budget — with the same
    quantization points the oracle replays; the K-row result is
    parallelized back.  At 100 TB nothing changes: the only thing that
    grows is the scoring pass."""
    import math

    docs = _docs(spark, sf_dir)
    scored = lm_perplexity(docs).select("doc_id", "cross_entropy")
    # the per-source threshold branch and the output branch both read
    # this join — persist so the LM scoring pipeline under it runs once
    # (stage reuse within the one consuming action).  Unlike the
    # returned-lazy queries this function CONSUMES j itself (both
    # collects below), so persist + explicit unpersist is the right
    # lifetime here — the r8 localCheckpoint sweep deliberately skips it.
    j = scored.join(docs.select("doc_id", "source"), "doc_id").persist()
    per = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        round4(F.avg("cross_entropy")).alias("avg_ce"),
    )
    g = j.agg(round4(F.avg("cross_entropy")).alias("g")).collect()[0]["g"]
    rows = sorted(per.collect(), key=lambda r: r.source)
    # both consumers of j collected above; the returned frame is built
    # from driver rows — release the cache (kmeans_lloyd precedent)
    j.unpersist(blocking=False)
    srcs = [r.source for r in rows]
    k = len(srcs)
    ex = {r.source: max(0.0, r.avg_ce - g) for r in rows}

    def q6(v: float) -> float:
        return math.floor(v * 1e6 + 0.500000001) / 1e6

    def q4(v: float) -> float:
        return math.floor(v * 1e4 + 0.500000001) / 1e4

    a = {s: 1.0 / k for s in srcs}
    hist = []
    for _ in range(DOREMI_T):
        raw = {s: a[s] * math.exp(DOREMI_ETA * ex[s]) for s in srcs}
        tot = 0.0
        for s in srcs:
            tot += raw[s]
        a = {
            s: q6((1.0 - DOREMI_C) * (raw[s] / tot) + DOREMI_C / k)
            for s in srcs
        }
        hist.append(dict(a))
    out = []
    for r in rows:
        acc = 0.0
        for h in hist:
            acc = acc + h[r.source]
        out.append(
            (r.source, r.n_docs, r.avg_ce, q4(ex[r.source]), q4(acc / DOREMI_T))
        )
    return spark.createDataFrame(
        out, "source string, n_docs long, avg_ce double, excess double, weight double"
    )


def _doremi_sql() -> str:
    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    one_minus_c = repr(1.0 - DOREMI_C)
    steps = []
    for t in range(1, DOREMI_T + 1):
        steps.append(
            f""",
r{t} AS (
  SELECT a.source, a.a * exp({DOREMI_ETA!r} * e.ex) AS raw
  FROM a{t - 1} a JOIN ex e USING (source)
),
t{t} AS (SELECT sum(raw) AS tot FROM r{t}),
a{t} AS (
  SELECT r.source,
    floor(({one_minus_c} * (r.raw / t.tot) + {DOREMI_C!r} / kk.k)
          * 1e6 + 0.500000001) / 1e6 AS a
  FROM r{t} r, t{t} t, kk
)"""
        )
    avg_terms = " + ".join(f"a{t}.a" for t in range(1, DOREMI_T + 1))
    joins = " ".join(
        f"JOIN a{t} USING (source)" for t in range(1, DOREMI_T + 1)
    )
    return f"""
WITH scored AS ({_LM_SQL}),
j AS (
  SELECT s.doc_id, d.source, s.cross_entropy
  FROM scored s JOIN documents d USING (doc_id)
),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    {q4('avg(cross_entropy)')} AS avg_ce
  FROM j GROUP BY source
),
gg AS (SELECT {q4('avg(cross_entropy)')} AS g FROM j),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM per),
ex AS (
  SELECT source, n_docs, avg_ce, greatest(avg_ce - gg.g, 0.0) AS ex
  FROM per, gg
),
a0 AS (SELECT source, 1.0 / kk.k AS a FROM ex, kk){"".join(steps)}
SELECT e.source, e.n_docs, e.avg_ce, {q4('e.ex')} AS excess,
  {q4(f'({avg_terms}) / {DOREMI_T}')} AS weight
FROM ex e {joins}"""


_register(
    "mixture_doremi_weights", Query(spark=_doremi_spark, sql=_doremi_sql())
)


# --------------------------------------------------------------------- #
# Round-7 corpus pipeline: the new cleaning family chained end-to-end —
# lineify → corpus-wide line dedup → C4 page rules → per-source
# accounting.  One declarative plan; the integration twin of
# doc_pipeline_corpus for the r7 operators.
# --------------------------------------------------------------------- #


def _r7_pipeline_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: lineify is row-local; line dedup shuffles only
    (id, pos, hash) and broadcasts its dup set back; the C4 pass is
    zero-shuffle page rewriting; the source join + final agg are the
    only remaining exchanges (the agg is partial-agg friendly).  The
    full text column crosses an exchange at most once (the per-doc
    position join, when it falls back from broadcast)."""
    from ..functions.dedup import line_dedup_global
    from ..functions.text import c4_rules, words

    docs = _docs(spark, sf_dir)
    lined = _lineify(docs, C4_K, punct=True)
    ld = line_dedup_global(lined, min_df=LINE_MIN_DF).select(
        "doc_id",
        F.col("clean_text").alias("text"),
        F.col("n_removed").alias("lines_deduped"),
    )
    c4 = c4_rules(ld, "text")
    j = c4.join(docs.select("doc_id", "source"), "doc_id")
    toks_kept = F.when(
        F.col("keep") & (F.length("clean_text") > 0),
        F.size(words(F.col("clean_text"))),
    ).otherwise(F.lit(0))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_pages_kept"),
        F.sum("lines_deduped").cast("long").alias("lines_deduped"),
        F.sum(F.col("n_lines") - F.col("n_kept"))
        .cast("long")
        .alias("lines_dropped_c4"),
        F.sum(toks_kept).cast("long").alias("tokens_kept"),
    )


def _r7_pipeline_sql() -> str:
    line_ok = _c4_line_ok()
    flags = _c4_flag_exprs()
    keep = " AND ".join(f"COALESCE({e}, false)" for e in flags.values())
    return f"""
WITH {_lineify_sql(C4_K, punct=True)[1:]},
t0 AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lineified
),
ex AS (
  SELECT doc_id, i, ls[i] AS line, md5(ls[i]) AS h
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM t0)
),
dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= {LINE_MIN_DF}),
keep_l AS (
  SELECT e.doc_id, e.i, e.line
  FROM ex e LEFT JOIN dup d USING (h) WHERE d.h IS NULL
),
reb AS (
  SELECT doc_id, count(*) AS n_kept_l,
    string_agg(line, chr(10) ORDER BY i) AS txt
  FROM keep_l GROUP BY 1
),
ld AS (
  SELECT t0.doc_id, COALESCE(r.txt, '') AS text,
    CAST(COALESCE(len(t0.ls), 0) - COALESCE(r.n_kept_l, 0) AS BIGINT)
      AS lines_deduped
  FROM t0 LEFT JOIN reb r USING (doc_id)
),
cc AS (
  SELECT doc_id, lines_deduped, text,
    string_split(text, chr(10)) AS ls,
    list_filter(string_split(text, chr(10)), {line_ok}) AS kept,
    COALESCE(array_to_string(
      list_filter(string_split(text, chr(10)), {line_ok}), chr(10)), '')
      AS clean_text
  FROM ld
),
fl AS (
  SELECT doc_id, lines_deduped,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(kept) AS BIGINT) AS n_kept,
    clean_text, ({keep}) AS keep
  FROM cc
)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pages_kept,
  CAST(sum(f.lines_deduped) AS BIGINT) AS lines_deduped,
  CAST(sum(f.n_lines - f.n_kept) AS BIGINT) AS lines_dropped_c4,
  CAST(sum(CASE WHEN f.keep AND length(f.clean_text) > 0
           THEN len(string_split(f.clean_text, ' ')) ELSE 0 END) AS BIGINT)
    AS tokens_kept
FROM fl f JOIN documents d USING (doc_id)
GROUP BY d.source"""


_register(
    "pipeline_corpus_r7",
    Query(spark=_r7_pipeline_spark, sql=_r7_pipeline_sql()),
)


# --------------------------------------------------------------------- #
# Token-budget water-filling: temperature mixture weights + finite
# per-source supplies → the executable sampling plan (alloc, rate).
# --------------------------------------------------------------------- #

WF_BUDGET_FRAC = 0.5  # plan for half the corpus' tokens


def _wf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import token_budget_waterfill

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    sup = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("supply")
    )
    total = sup.agg(F.sum("supply").alias("t")).collect()[0]["t"]
    w = sup.withColumn("w", F.sqrt(F.col("supply").cast("double")))
    return token_budget_waterfill(
        w, budget=WF_BUDGET_FRAC * total, key_col="source"
    )


def _wf_sql() -> str:
    return f"""
WITH sup AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS t
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
tot AS (SELECT sum(t) AS tt, sum(sqrt(t)) AS sw FROM sup),
base AS (
  SELECT source, t, sqrt(t) / tot.sw AS w,
    t / (sqrt(t) / tot.sw) AS r
  FROM sup, tot
),
bb AS (SELECT {WF_BUDGET_FRAC} * tt AS b FROM tot),
cum AS (
  SELECT *, row_number() OVER (ORDER BY r, source) AS rn,
    COALESCE(sum(t) OVER (ORDER BY r, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumt,
    COALESCE(sum(w) OVER (ORDER BY r, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw
  FROM base
),
cp AS (SELECT cum.*, (bb.b - cumt) / (1.0 - cumw) AS cprev FROM cum, bb),
fail AS (
  SELECT rn AS ff, cprev AS c FROM cp WHERE r > cprev ORDER BY rn LIMIT 1
),
fin AS (
  SELECT cp.*, f.ff, f.c,
    (f.ff IS NULL OR cp.rn < f.ff) AS capped
  FROM cp LEFT JOIN fail f ON true
)
SELECT source, floor(t * 1e4 + 0.500000001) / 1e4 AS supply,
  floor(w * 1e4 + 0.500000001) / 1e4 AS weight,
  floor((CASE WHEN capped THEN t ELSE c * w END) * 1e4 + 0.500000001) / 1e4
    AS alloc,
  CAST(capped AS BIGINT) AS capped,
  floor((CASE WHEN capped THEN t ELSE c * w END) / t * 1e4 + 0.500000001)
    / 1e4 AS sample_rate
FROM fin"""


_register(
    "mixture_token_budget", Query(spark=_wf_spark, sql=_wf_sql())
)


# --------------------------------------------------------------------- #
# Quality curriculum order: tertile tiers by heuristic quality, a
# deterministic hash order within tiers — consumers sort by
# (tier, order_key) for easy→hard (here best→worst) scheduling without
# any global rank materialization.
# --------------------------------------------------------------------- #

CUR_SEED = "cur"


def _curriculum_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import hash_unit
    from ..functions.text import with_quality_score

    docs = _docs(spark, sf_dir)
    qs = with_quality_score(docs).select(
        "doc_id", round4(F.col("quality_score")).alias("qsc")
    )
    thr = qs.agg(
        round4(F.percentile(F.col("qsc"), F.lit(CCNET_T1))).alias("t1"),
        round4(F.percentile(F.col("qsc"), F.lit(CCNET_T2))).alias("t2"),
    )
    tier = (
        F.when(F.col("qsc") > F.col("t2"), F.lit(1))
        .when(F.col("qsc") > F.col("t1"), F.lit(2))
        .otherwise(F.lit(3))
    )
    return qs.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "qsc",
        tier.cast("long").alias("tier"),
        hash_unit(F.col("doc_id"), CUR_SEED).alias("order_key"),
    )


def _curriculum_sql() -> str:
    from ..functions.sampling import unit_sql

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    return f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
),
m AS (
  SELECT doc_id, text, ws,
    {_qscore_m_fields()}
  FROM t
),
scored AS (
  SELECT doc_id, {_qscore_expr()} AS qsc FROM m
),
thr AS (
  SELECT {q4(f'quantile_cont(qsc, {CCNET_T1!r})')} AS t1,
    {q4(f'quantile_cont(qsc, {CCNET_T2!r})')} AS t2
  FROM scored
)
SELECT s.doc_id, s.qsc,
  CAST(CASE WHEN s.qsc > t.t2 THEN 1
            WHEN s.qsc > t.t1 THEN 2 ELSE 3 END AS BIGINT) AS tier,
  {unit_sql('s.doc_id', CUR_SEED)} AS order_key
FROM scored s, thr t"""


_register(
    "sample_quality_curriculum",
    Query(spark=_curriculum_spark, sql=_curriculum_sql()),
)


# --------------------------------------------------------------------- #
# Leakage-safe split: near-dup CLUSTERS are the split unit, so a
# train/test boundary can never separate two near-duplicates (the
# failure mode plain per-doc hash splits cannot prevent).
# --------------------------------------------------------------------- #

LS_SEED, LS_VAL, LS_TEST = "lsafe", 0.1, 0.1


def _leakage_safe_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import lsh_dedup_clusters
    from ..functions.sampling import HASH_DEN, hash_bucket

    docs = _docs(spark, sf_dir)
    cl = lsh_dedup_clusters(docs).select("doc_id", "component")
    b = hash_bucket(F.col("component"), LS_SEED)
    val_cut = round(LS_VAL * HASH_DEN)
    test_cut = val_cut + round(LS_TEST * HASH_DEN)
    return cl.select(
        "doc_id",
        "component",
        F.when(b < val_cut, F.lit("val"))
        .when(b < test_cut, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def _leakage_safe_sql() -> str:
    from ..functions.sampling import HASH_DEN, bucket_sql

    b = bucket_sql("component", LS_SEED)
    val_cut = round(LS_VAL * HASH_DEN)
    test_cut = val_cut + round(LS_TEST * HASH_DEN)
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
alldocs AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT doc_id, component,
  CASE WHEN {b} < {val_cut} THEN 'val'
       WHEN {b} < {test_cut} THEN 'test'
       ELSE 'train' END AS split
FROM alldocs"""


_register(
    "split_leakage_safe",
    Query(spark=_leakage_safe_spark, sql=_leakage_safe_sql()),
)


# --------------------------------------------------------------------- #
# Mixture plan EXECUTION: the water-fill rates actually run as a
# per-source hash sample, with achieved-vs-planned accounting — closing
# the loop from "weights" to "rows on disk".
# --------------------------------------------------------------------- #


def _plan_execute_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The waterfill output is K rows — collected to the driver (same
    budget as k-means centroids) and turned into per-source hash-sample
    thresholds; the corpus-side filter is then row-local (pushes into
    the scan), and the audit agg is one groupBy.  Rates quantize to the
    10⁴ hash-bucket grid, so planned and achievable rates agree exactly
    and the hash filter is engine-portable."""
    from ..functions.sampling import HASH_DEN, hash_bucket

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    plan = _wf_spark(spark, sf_dir)
    rates = {
        r["source"]: round(r["sample_rate"] * HASH_DEN)
        for r in plan.collect()
    }
    spark_rates = spark.createDataFrame(
        sorted(rates.items()), "source string, _thresh long"
    )
    sampled = (
        docs.join(F.broadcast(spark_rates), "source")
        .filter(hash_bucket(F.col("doc_id"), "mixexec") < F.col("_thresh"))
    )
    per = sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("sampled_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias(
            "sampled_tokens"
        ),
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_docs")
    )
    return (
        base.join(F.broadcast(spark_rates), "source")
        .join(per, "source", "left")
        .select(
            "source",
            "total_docs",
            round4(F.col("_thresh").cast("double") / HASH_DEN).alias(
                "planned_rate"
            ),
            F.coalesce(F.col("sampled_docs"), F.lit(0))
            .cast("long")
            .alias("sampled_docs"),
            F.coalesce(F.col("sampled_tokens"), F.lit(0))
            .cast("long")
            .alias("sampled_tokens"),
        )
    )


def _plan_execute_sql() -> str:
    from ..functions.sampling import HASH_DEN, bucket_sql

    wf = _wf_sql().strip()
    b = bucket_sql("d.doc_id", "mixexec")
    return f"""
WITH plan AS ({wf}),
rates AS (
  SELECT source,
    CAST(round(sample_rate * {HASH_DEN}) AS BIGINT) AS thresh
  FROM plan
),
sampled AS (
  SELECT d.source, count(*) AS sampled_docs,
    sum(len(string_split(d.text, ' '))) AS sampled_tokens
  FROM documents d JOIN rates r USING (source)
  WHERE d.text IS NOT NULL AND {b} < r.thresh
  GROUP BY d.source
),
base AS (
  SELECT source, count(*) AS total_docs FROM documents
  WHERE text IS NOT NULL GROUP BY source
)
SELECT b.source, CAST(b.total_docs AS BIGINT) AS total_docs,
  floor(CAST(r.thresh AS DOUBLE) / {HASH_DEN} * 1e4 + 0.500000001) / 1e4
    AS planned_rate,
  CAST(COALESCE(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
  CAST(COALESCE(s.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
FROM base b
JOIN rates r USING (source)
LEFT JOIN sampled s USING (source)"""


_register(
    "mixture_plan_execute",
    Query(spark=_plan_execute_spark, sql=_plan_execute_sql()),
)


# --------------------------------------------------------------------- #
# Training-sequence packing: concat-and-chunk (sampling.py) over the
# ``documents`` table.  The operator's whole layout is md5 ordering + a
# global prefix-sum + integer span math, all engine-portable, so the
# oracle replays it exactly in ANSI SQL: same order key, same window
# cumsum, same ``//`` / ``%`` spans.  Every output is integral — the
# oracle CASTs each column to BIGINT because DuckDB's ``sum(BIGINT)``
# widens to HUGEINT, which value-hash-mismatches Spark's long even at
# equal values (the standing dtype trap).
# --------------------------------------------------------------------- #

#: driver-registered sequence length.  128 keeps the sf0.01 run's
#: per-doc spans small (docs average ~100 whitespace tokens, so most
#: docs straddle at most one boundary) while still exercising the
#: multi-sequence span math the manifest consumers rely on.
PACK_SEQ_LEN = 128


def _pack_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sampling.pack_token_stream(docs, PACK_SEQ_LEN)


def _pack_sql(seq_len: int = PACK_SEQ_LEN) -> str:
    """ANSI replay of the per-doc layout: md5 order key, window cumsum,
    integer division spans — the exact SQL tests/test_packing.py pins
    locally at sf0.001, hardened with BIGINT casts for the driver's
    dtype-sensitive value hash.  The order key COALESCEs a NULL doc_id
    to the sampling-module sentinel exactly like Spark's ``_key_str``
    (without it DuckDB's ``md5(NULL)`` is NULL and sorts last, shifting
    every downstream span); multiple NULL-id rows remain outside the
    operator's unique-non-null id contract on both sides."""
    from ..functions.sampling import NULL_KEY

    return rf"""
WITH live AS (
  SELECT doc_id,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
    md5('pack|' || COALESCE(CAST(doc_id AS VARCHAR), '{NULL_KEY}')) AS h
  FROM documents WHERE text IS NOT NULL AND trim(text) != ''
),
cum AS (
  SELECT doc_id, n, sum(n) OVER (ORDER BY h, doc_id) AS c FROM live
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  CAST(c - n AS BIGINT) AS start_tok,
  CAST((c - n) // {seq_len} AS BIGINT) AS first_seq,
  CAST((c - 1) // {seq_len} AS BIGINT) AS last_seq,
  CAST((c - n) % {seq_len} AS BIGINT) AS offset_in_first
FROM cum
"""


_register(
    "pack_token_stream_128", Query(spark=_pack_spark, sql=_pack_sql())
)


# --------------------------------------------------------------------- #
# Distribution-matched sampling — REGISTERED r10.  The
# numeric-feature counterpart of DSIR: subsample the corpus so its
# n_chars distribution matches a reference slice's (here: the short-doc
# half), bucket-wise over the reference's quartile bands, keeping the
# maximal subsample (largest bucket rate pinned at exactly 1).  The
# output is row-level deterministic (md5 hash filter), so the oracle
# replays the KEPT ROWS, not just the histogram.  Local parity pinned
# in tests/test_oracle_parity_r9.py; sampling-semantics unit tests in
# tests/test_sampling.py.
# --------------------------------------------------------------------- #

#: the reference slice: documents below this many chars — a genuinely
#: skewed target profile, so the per-bucket rates differ (an iid slice
#: would give every bucket rate ~1 and the query would test nothing;
#: testdata n_chars spans ~48–560 with median ~300, so 250 keeps the
#: short ~40%).
MATCH_REF_MAX_CHARS = 250
MATCH_K = 4
MATCH_SEED = "match-r9"


def _match_dist_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.sampling import match_distribution_sample

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("n_chars") < MATCH_REF_MAX_CHARS)
    return match_distribution_sample(
        docs, ref, value_col="n_chars", key_col="doc_id",
        k=MATCH_K, seed=MATCH_SEED,
    )


def _match_dist_sql(
    k: int = MATCH_K, seed: str = MATCH_SEED,
    ref_max: int = MATCH_REF_MAX_CHARS,
) -> str:
    from ..functions.sampling import HASH_DEN, bucket_sql, edge_q4_sql

    fracs = [i / k for i in range(1, k)]
    # edges quantized exactly like the Spark side (ADVICE r9: a
    # last-bit interpolation divergence between quantile_cont and
    # F.percentile would flip bucket membership for on-edge values;
    # the magnitude guard mirrors sampling.quantize_edge)
    e_cols = ", ".join(
        f"{edge_q4_sql(f'quantile_cont(v, {q})')} AS e{i}"
        for i, q in enumerate(fracs, 1)
    )
    bucket = " + ".join(f"CAST(v > e{i} AS INT)" for i in range(1, k))
    return f"""
WITH refv AS (
  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
  WHERE n_chars IS NOT NULL AND n_chars < {ref_max}
),
e AS (SELECT {e_cols} FROM refv),
base AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL
),
bkt AS (SELECT doc_id, v, ({bucket}) AS b FROM base, e),
rbkt AS (SELECT ({bucket}) AS b, count(*) AS cr FROM refv, e GROUP BY 1),
dbkt AS (SELECT b, count(*) AS cd FROM bkt GROUP BY b),
joint AS (
  SELECT d.b, d.cd, COALESCE(r.cr, 0) AS cr
  FROM dbkt d LEFT JOIN rbkt r USING (b)
),
fr AS (
  SELECT b,
    CAST(cd AS DOUBLE) / CAST(sum(cd) OVER () AS DOUBLE) AS fd,
    CAST(cr AS DOUBLE) / CAST(sum(cr) OVER () AS DOUBLE) AS frr
  FROM joint
),
rates AS (
  SELECT b,
    CAST(floor(
      CASE WHEN frr > 0
        THEN min(CASE WHEN frr > 0 THEN fd / frr END) OVER () * frr / fd
        ELSE 0.0 END * {HASH_DEN} + 0.500000001) AS INT) AS thresh
  FROM fr
)
SELECT k.doc_id, CAST(k.b AS INT) AS bucket,
  CAST(k.v AS BIGINT) AS n_chars
FROM bkt k JOIN rates r ON r.b = k.b
WHERE {bucket_sql('k.doc_id', seed)} < r.thresh"""


_register(
    "sample_match_distribution",
    Query(spark=_match_dist_spark, sql=_match_dist_sql()),
)
