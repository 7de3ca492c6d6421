"""Extension family: text analysis, dedup, similarity search, event-time
windows, sessionization, multimodal plumbing, lineitem indicator series
(plain, halo and footer-hinted halo), and relational (TPC-H-ish)
coverage — each with a DuckDB oracle where SQL can express it.

These are the LLM-data-pipeline operators (BASELINE.json north star); the
implementations live in ``functions/`` and are registered here against the
driver's ``documents`` / ``embeddings`` / ``events`` / ``lineitem`` tables.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dedup, multimodal, sampling, similarity, text
from ..sources.prices import (
    LINEITEM_ORDER,
    PRICES_SQL_LINEITEM,
    load_table,
    prices_from_lineitem,
)
from ._base import (
    EMB_DIM,
    Query,
    _docs,
    _dot_sql,
    _emb,
    _gated,
    _norm_sql,
    _r,
    _register,
    _sql,
    _wcum,
    _word,
    _ws,
    round4,
    slog,
)


# --------------------------------------------------------------------- #
# Text analysis
# --------------------------------------------------------------------- #

_register(
    "text_token_stats",
    Query(
        spark=lambda s, d: text.with_token_stats(_docs(s, d)).select(
            "doc_id",
            "token_count",
            "distinct_tokens",
            round4(F.col("avg_token_len")).alias("avg_token_len"),
            "punct_count",
        ),
        sql="""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
)
SELECT doc_id,
  len(ws) AS token_count,
  len(list_distinct(ws)) AS distinct_tokens,
  {r_avg},
  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT)
    AS punct_count
FROM t""".format(
            r_avg=_r(
                "(length(text) - (len(ws) - 1)) / len(ws)", "avg_token_len"
            )
        ),
    ),
)

_register(
    "text_quality_score",
    Query(
        spark=lambda s, d: text.with_quality_score(_docs(s, d)).select(
            "doc_id", round4(F.col("quality_score")).alias("quality_score")
        ),
        sql="""
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
)
SELECT doc_id,
  {r}
FROM m""".format(
            r=_r(
                "least(n / 50, 1.0) * 0.3 + (dt / n) * 0.3"
                " + (1 - punct / length(text)) * 0.2"
                " + least(stop / n * 4, 1.0) * 0.2",
                "quality_score",
            )
        ),
    ),
)


def _lang_sql() -> str:
    hits = {
        lang: f"len(list_filter(ws, x -> x IN ({', '.join(repr(w) for w in vocab)})))"
        for lang, vocab in text.LANG_MARKERS.items()
    }
    langs = list(text.LANG_MARKERS)  # tie-break: earlier wins
    case = "CASE "
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} >= h_{other}" for other in langs[i + 1 :]]
        conds.append(f"h_{lang} > 0")
        case += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    case += "ELSE 'und' END"
    hit_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
h AS (
  SELECT doc_id, {hit_cols} FROM t
)
SELECT doc_id, {case} AS lang_id FROM h"""


_register(
    "text_lang_id",
    Query(
        spark=lambda s, d: text.with_lang_id(_docs(s, d)).select("doc_id", "lang_id"),
        sql=_lang_sql(),
    ),
)

_register(
    "text_fingerprint",
    Query(
        spark=lambda s, d: text.with_fingerprint(_docs(s, d)).select(
            "doc_id", "fp_md5", "fp_roll"
        ),
        sql="""
WITH RECURSIVE powers AS (
  SELECT 0 AS k, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT k + 1, (v * 31) % 1000000007 FROM powers WHERE k < 400
),
t AS (
  SELECT doc_id, lower(text) AS lt, string_split(lower(text), ' ') AS ws
  FROM documents
),
w AS (
  SELECT doc_id, lt, len(ws) AS n,
    unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS i
  FROM t
),
h AS (
  SELECT doc_id, lt, n, i,
    CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) % 2147483647 AS wh
  FROM w
),
r AS (
  SELECT h.doc_id, any_value(h.lt) AS lt,
    CAST(sum((h.wh * p.v) % 1000000007) % 1000000007 AS BIGINT) AS fp_roll
  FROM h JOIN powers p ON p.k = h.n - h.i
  GROUP BY h.doc_id
)
SELECT doc_id, md5(lt) AS fp_md5, fp_roll FROM r""",
    ),
)


# --------------------------------------------------------------------- #
# Deduplication
# --------------------------------------------------------------------- #

_register(
    "dedup_exact",
    Query(
        spark=lambda s, d: dedup.exact_duplicate_groups(_docs(s, d)).select(
            "fp", "keep_id", "group_size"
        ),
        sql="""
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS group_size
FROM documents GROUP BY md5(text)""",
    ),
)

_register(
    "dedup_ngram_jaccard",
    Query(
        spark=lambda s, d: dedup.ngram_jaccard_pairs(
            _docs(s, d), threshold=0.8, max_df_frac=0.8
        ).select("ia", "ib", round4(F.col("jaccard")).alias("jaccard")),
        sql="""
WITH toks0 AS (
  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
-- mirror of the Spark max_df_frac=0.8 ubiquitous-token prune (posting
-- lists for a token in f*N docs are ~(f*N)^2/2 candidate pairs at scale)
dfreq AS (
  SELECT tok, count(*) AS df FROM toks0 GROUP BY tok
),
ndocs AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
),
toks AS (
  SELECT t.id, t.tok
  FROM toks0 t JOIN dfreq f ON f.tok = t.tok, ndocs
  WHERE f.df <= n_docs * 0.8
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
SELECT ia, ib, {r} FROM j WHERE jaccard >= 0.8""".format(r=_r("jaccard", "jaccard")),
    ),
)


def _minhash_sig_ctes() -> str:
    """The shingle→hash→signature CTE chain (toks, h, sig) shared by
    every MinHash oracle."""
    aggs = ", ".join(
        f"min(({a} * wh + {b}) % {text.H31}) AS h{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEFFS, start=1)
    )
    return f"""toks AS (
  SELECT doc_id,
    unnest(list_distinct(
      list_transform(range(1, len(string_split(text, ' '))),
                     i -> string_split(text, ' ')[i] || ' '
                          || string_split(text, ' ')[i + 1])
    )) AS tok
  FROM documents
),
h AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {text.H31} AS wh
  FROM toks
),
sig AS (
  SELECT doc_id, {aggs} FROM h GROUP BY doc_id
)"""


def _minhash_ctes() -> str:
    """Signature chain + uncapped band-join ``cand`` CTE, shared by the
    pair query's oracle and the connected-components oracle
    (corpus family)."""
    bands = []
    for bi in range(4):
        c1, c2 = f"h{bi * 2 + 1}", f"h{bi * 2 + 2}"
        bands.append(
            f"SELECT a.doc_id AS ia, b.doc_id AS ib FROM sig a JOIN sig b"
            f" ON a.{c1} = b.{c1} AND a.{c2} = b.{c2} AND a.doc_id < b.doc_id"
        )
    return f"""{_minhash_sig_ctes()},
cand AS (
  {' UNION ALL '.join(bands)}
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT ia, ib, count(*) AS n_bands FROM cand GROUP BY ia, ib"""


_register(
    "dedup_minhash_lsh",
    Query(
        spark=lambda s, d: dedup.minhash_lsh_candidates(_docs(s, d)).select(
            "ia", "ib", "n_bands"
        ),
        sql=_minhash_sql(),
    ),
)


#: Per-band-bucket cap exercised by the capped LSH queries (small enough
#: to bind on the sf0.01 corpus, which has exact-duplicate groups).
_LSH_CAP = 2


def _minhash_capped_sql(cap: int) -> str:
    """Capped band joins: each (band, key) bucket contributes only its
    ``cap`` lowest-id docs (row_number-deterministic, mirroring the Spark
    kernel's sample)."""
    bnds, sels = [], []
    for bi in range(4):
        c1, c2 = f"h{bi * 2 + 1}", f"h{bi * 2 + 2}"
        bnds.append(
            f"bnd{bi} AS (SELECT doc_id, {c1}, {c2}, row_number() OVER "
            f"(PARTITION BY {c1}, {c2} ORDER BY doc_id) AS rn FROM sig)"
        )
        sels.append(
            f"SELECT a.doc_id AS ia, b.doc_id AS ib FROM bnd{bi} a JOIN bnd{bi} b"
            f" ON a.{c1} = b.{c1} AND a.{c2} = b.{c2} AND a.doc_id < b.doc_id"
            f" WHERE a.rn <= {cap} AND b.rn <= {cap}"
        )
    bnd_block = ",\n".join(bnds)
    return f"""
WITH {_minhash_sig_ctes()},
{bnd_block},
cand AS (
  {' UNION ALL '.join(sels)}
)
SELECT ia, ib, count(*) AS n_bands FROM cand GROUP BY ia, ib"""


_register(
    "dedup_minhash_lsh_capped",
    Query(
        spark=lambda s, d: dedup.minhash_lsh_candidates(
            _docs(s, d), max_bucket_size=_LSH_CAP
        ).select("ia", "ib", "n_bands"),
        sql=_minhash_capped_sql(_LSH_CAP),
    ),
)


def _lsh_overflow_sql(cap: int) -> str:
    sels = []
    for bi in range(4):
        c1, c2 = f"h{bi * 2 + 1}", f"h{bi * 2 + 2}"
        sels.append(
            f"SELECT CAST({bi} AS INT) AS band, {c1} AS k1, {c2} AS k2,"
            f" count(*) AS size FROM sig GROUP BY {c1}, {c2}"
            f" HAVING count(*) > {cap}"
        )
    return f"""
WITH {_minhash_sig_ctes()},
o AS ({' UNION ALL '.join(sels)})
SELECT band, k1, k2, CAST(size AS BIGINT) AS size,
  CAST(size - {cap} AS BIGINT) AS dropped
FROM o"""


def _lsh_overflow_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.lsh_bucket_overflow(_docs(spark, sf_dir), max_bucket_size=1)
    return out.select(
        F.col("band").cast("int").alias("band"),
        F.col("key.k1").alias("k1"),
        F.col("key.k2").alias("k2"),
        F.col("size").cast("long").alias("size"),
        F.col("dropped").cast("long").alias("dropped"),
    )


_register(
    "dedup_lsh_bucket_overflow",
    Query(spark=_lsh_overflow_spark, sql=_lsh_overflow_sql(1)),
)


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(((wh >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(32)
    )
    val = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {text.H31} AS wh
  FROM toks
),
s AS (
  SELECT doc_id, {sums} FROM h GROUP BY doc_id
)
SELECT doc_id, {val} AS simhash FROM s"""


_register(
    "dedup_simhash",
    Query(
        spark=lambda s, d: dedup.simhash(_docs(s, d)),
        sql=_simhash_sql(),
    ),
)


_register(
    "similarity_knn",
    Query(
        spark=lambda s, d: similarity.knn_bruteforce(
            _emb(s, d), _emb(s, d).filter(F.col("vec_id") < 10), k=5
        ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos")),
        sql=f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n WHERE vec_id < 10
),
scored AS (
  SELECT q.qid, n.vec_id AS nid,
    ({_dot_sql('q.qv', 'n.embedding')}) / (q.qn * n.nn) AS cos
  FROM n CROSS JOIN q
  WHERE n.vec_id != q.qid
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, {_r('cos', 'cos')} FROM ranked WHERE rank <= 5""",
    ),
)

_register(
    "similarity_cosine_pairs",
    Query(
        spark=lambda s, d: similarity.cosine_pairs(_emb(s, d), 0.4).select(
            "ia", "ib", round4(F.col("cos")).alias("cos")
        ),
        sql=f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
    ({_dot_sql('a.embedding', 'b.embedding')}) / (a.nn * b.nn) AS cos
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT ia, ib, {_r('cos', 'cos')} FROM p WHERE cos >= 0.4""",
    ),
)


def _lsh_bucket_sql(vec: str) -> str:
    """Replicate knn_lsh's hyperplane signature relationally: the SAME
    md5-derived ±1 planes (``_plane_signs``), the same left-associated
    projection sum, the same >0 sign test per bit — so even the
    approximation (which buckets collide) is bit-reproducible and the
    'approximate' path gets a full value-hash oracle."""
    from ..functions.similarity import _plane_signs

    bits = []
    for m, row in enumerate(_plane_signs(8, EMB_DIM)):
        proj = " + ".join(
            f"CAST({vec}[{i}] AS DOUBLE) * {s:.1f}"
            for i, s in enumerate(row, start=1)
        )
        bits.append(f"CASE WHEN ({proj}) > 0 THEN {1 << m} ELSE 0 END")
    return " + ".join(bits)


_register(
    "similarity_knn_lsh",
    Query(
        spark=lambda s, d: similarity.knn_lsh(
            _emb(s, d), _emb(s, d).filter(F.col("vec_id") < 10), k=5
        ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos")),
        sql=f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn,
    {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, nn AS qn, bucket FROM n
  WHERE vec_id < 10
),
scored AS (
  SELECT q.qid, n.vec_id AS nid,
    ({_dot_sql('q.qv', 'n.embedding')}) / (q.qn * n.nn) AS cos
  FROM n JOIN q USING (bucket)
  WHERE n.vec_id != q.qid
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, {_r('cos', 'cos')} FROM ranked WHERE rank <= 5""",
    ),
)


# IVF ANN: deterministic coarse centroids → the approximation itself is
# reproducible, so this scale path gets a FULL value-hash oracle.
_KNN_IVF_SQL = f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
c AS (
  SELECT vec_id AS cid, embedding AS cv, nn AS cn FROM n WHERE vec_id < 16
),
assign AS (
  SELECT n.vec_id AS nid, n.embedding AS nv, n.nn, c.cid,
    row_number() OVER (
      PARTITION BY n.vec_id
      ORDER BY ({_dot_sql('n.embedding', 'c.cv')}) / (n.nn * c.cn) DESC, c.cid
    ) AS rk
  FROM n CROSS JOIN c
),
a AS (SELECT nid, nv, nn, cid FROM assign WHERE rk = 1),
q AS (SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n WHERE vec_id < 10),
probe AS (
  SELECT q.qid, q.qv, q.qn, c.cid,
    row_number() OVER (
      PARTITION BY q.qid
      ORDER BY ({_dot_sql('q.qv', 'c.cv')}) / (q.qn * c.cn) DESC, c.cid
    ) AS rk
  FROM q CROSS JOIN c
),
p AS (SELECT qid, qv, qn, cid FROM probe WHERE rk <= 4),
scored AS (
  SELECT p.qid, a.nid,
    ({_dot_sql('p.qv', 'a.nv')}) / (p.qn * a.nn) AS cos
  FROM a JOIN p USING (cid)
  WHERE a.nid != p.qid
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, {_r('cos', 'cos')} FROM ranked WHERE rank <= 5"""

_register(
    "similarity_knn_ivf",
    Query(
        spark=lambda s, d: similarity.knn_ivf(
            _emb(s, d),
            _emb(s, d).filter(F.col("vec_id") < 10),
            k=5,
            n_centroids=16,
            nprobe=4,
        ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos")),
        sql=_KNN_IVF_SQL,
    ),
)


# Product quantization: deterministic codebooks (lowest-id vectors, the
# same stand-in knn_ivf uses for centroids) make both the encoding AND
# the ADC approximate distances bit-reproducible, so this compression /
# scale path carries a FULL value-hash oracle.
_PQ_SUB = 8  # subspaces
_PQ_CODES = 16  # codewords per subspace
_PQ_W = EMB_DIM // _PQ_SUB  # dims per subspace


def _pq_qv_sql(expr: str) -> str:
    """Codebook quantizer — same boundary-safe 1e-6 step as
    ``similarity._quant_vec`` (and the kmeans oracle)."""
    return (
        f"list_transform({expr}, x -> "
        f"floor(CAST(x AS DOUBLE) * 1000000.0 + 0.500000001) / 1000000.0)"
    )


def _pq_sqd_sql(a: str, cw: str, s: int) -> str:
    """Squared L2 between subspace ``s`` of raw vector ``a`` and quantized
    codeword ``cw`` — the same left-to-right ``0.0 + …`` fold as
    ``similarity._np_fold_sq_dists`` over the slice."""
    terms = " + ".join(
        f"(CAST({a}[{s * _PQ_W + i}] AS DOUBLE) - {cw}[{s * _PQ_W + i}])"
        f" * (CAST({a}[{s * _PQ_W + i}] AS DOUBLE) - {cw}[{s * _PQ_W + i}])"
        for i in range(1, _PQ_W + 1)
    )
    return f"0.0 + {terms}"


def _pq_enc_ctes() -> str:
    """CTEs ``c`` (quantized codebook rows) and ``enc`` (nid, c0..c7):
    per-subspace argmin replayed relationally — one cross join, one
    row_number per subspace, lowest-code tie-break like ``array_min``
    over ``struct(d, code)``."""
    dists = ",\n    ".join(
        f"{_pq_sqd_sql('e.embedding', 'c.cv', s)} AS d{s}"
        for s in range(_PQ_SUB)
    )
    ranks = ",\n    ".join(
        f"row_number() OVER (PARTITION BY nid ORDER BY d{s}, cid) AS r{s}"
        for s in range(_PQ_SUB)
    )
    picks = ",\n    ".join(
        f"max(CASE WHEN r{s} = 1 THEN cid END) AS c{s}" for s in range(_PQ_SUB)
    )
    return f"""c AS (
  SELECT CAST(vec_id AS INT) AS cid, {_pq_qv_sql('embedding')} AS cv
  FROM embeddings WHERE vec_id < {_PQ_CODES}
),
sc AS (
  SELECT e.vec_id AS nid, c.cid,
    {dists}
  FROM embeddings e CROSS JOIN c
),
rk AS (
  SELECT nid, cid,
    {ranks}
  FROM sc
),
enc AS (
  SELECT nid,
    {picks}
  FROM rk GROUP BY nid
)"""


_register(
    "pq_encode",
    Query(
        spark=lambda s, d: similarity.pq_encode(
            _emb(s, d), n_sub=_PQ_SUB, n_codes=_PQ_CODES
        ).select(
            F.col("vec_id").alias("nid"),
            *[F.col(f"c{i}") for i in range(_PQ_SUB)],
        ),
        sql=f"""
WITH {_pq_enc_ctes()}
SELECT nid, {', '.join(f'c{i}' for i in range(_PQ_SUB))} FROM enc""",
    ),
)


def _pq_knn_sql() -> str:
    qds = ",\n    ".join(
        f"{_pq_sqd_sql('q.qv', 'c.cv', s)} AS qd{s}" for s in range(_PQ_SUB)
    )
    lookups = " + ".join(f"t{s}.qd{s}" for s in range(_PQ_SUB))
    tjoins = "\n  ".join(
        f"JOIN qt t{s} ON t{s}.qid = q.qid AND t{s}.cid = e.c{s}"
        for s in range(_PQ_SUB)
    )
    return f"""
WITH {_pq_enc_ctes()},
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
qt AS (
  SELECT q.qid, c.cid,
    {qds}
  FROM q CROSS JOIN c
),
scored AS (
  SELECT q.qid, e.nid, ({lookups}) AS adist
  FROM enc e CROSS JOIN q
  {tjoins}
  WHERE e.nid != q.qid
),
ranked AS (
  SELECT qid, nid, adist,
    row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, {_r('adist', 'adist')} FROM ranked WHERE rank <= 5"""


_register(
    "similarity_knn_pq",
    Query(
        spark=lambda s, d: similarity.knn_pq(
            _emb(s, d),
            _emb(s, d).filter(F.col("vec_id") < 10),
            k=5,
            n_sub=_PQ_SUB,
            n_codes=_PQ_CODES,
        ).select("qid", "nid", "rank", round4(F.col("adist")).alias("adist")),
        sql=_pq_knn_sql(),
    ),
)


def _ivfpq_sql(n_centroids: int = 16, nprobe: int = 4) -> str:
    """IVF-ADC replay: the knn_ivf coarse assign/probe CTEs (cosine,
    centroid ids < n_centroids) composed with the PQ enc/table CTEs —
    candidates join on cell id, score by table lookups."""
    qds = ",\n    ".join(
        f"{_pq_sqd_sql('q.qv', 'c.cv', s)} AS qd{s}" for s in range(_PQ_SUB)
    )
    lookups = " + ".join(f"t{s}.qd{s}" for s in range(_PQ_SUB))
    tjoins = "\n  ".join(
        f"JOIN qt t{s} ON t{s}.qid = p.qid AND t{s}.code = e.c{s}"
        for s in range(_PQ_SUB)
    )
    return f"""
WITH {_pq_enc_ctes()},
n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
cc AS (
  SELECT vec_id AS cid, embedding AS cv, nn AS cn FROM n
  WHERE vec_id < {n_centroids}
),
assign AS (
  SELECT n.vec_id AS nid, cc.cid,
    row_number() OVER (
      PARTITION BY n.vec_id
      ORDER BY ({_dot_sql('n.embedding', 'cc.cv')}) / (n.nn * cc.cn) DESC, cc.cid
    ) AS crk
  FROM n CROSS JOIN cc
),
a AS (SELECT nid, cid FROM assign WHERE crk = 1),
q AS (SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n WHERE vec_id < 10),
probe AS (
  SELECT q.qid, cc.cid,
    row_number() OVER (
      PARTITION BY q.qid
      ORDER BY ({_dot_sql('q.qv', 'cc.cv')}) / (q.qn * cc.cn) DESC, cc.cid
    ) AS crk
  FROM q CROSS JOIN cc
),
p AS (SELECT qid, cid FROM probe WHERE crk <= {nprobe}),
qt AS (
  SELECT q.qid, c.cid AS code,
    {qds}
  FROM q CROSS JOIN c
),
scored AS (
  SELECT p.qid, a.nid, ({lookups}) AS adist
  FROM a JOIN p USING (cid)
  JOIN enc e ON e.nid = a.nid
  {tjoins}
  WHERE a.nid != p.qid
),
ranked AS (
  SELECT qid, nid, adist,
    row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, {_r('adist', 'adist')} FROM ranked WHERE rank <= 5"""


_register(
    "similarity_knn_ivfpq",
    Query(
        spark=lambda s, d: similarity.knn_ivfpq(
            _emb(s, d),
            _emb(s, d).filter(F.col("vec_id") < 10),
            k=5,
            n_centroids=16,
            nprobe=4,
            n_sub=_PQ_SUB,
            n_codes=_PQ_CODES,
        ).select("qid", "nid", "rank", round4(F.col("adist")).alias("adist")),
        sql=_ivfpq_sql(n_centroids=16, nprobe=4),
    ),
)


# --------------------------------------------------------------------- #
# Event-time windows / sessionization
# --------------------------------------------------------------------- #


def _events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            round4(F.col("sum_value")).alias("sum_value"),
        )
    )


_register(
    "events_tumbling_1h",
    Query(
        spark=_events_tumbling,
        sql=f"""
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
  event_type, count(*) AS n, {_r('sum(value)', 'sum_value')}
FROM events GROUP BY 1, 2""",
    ),
)


def _events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            round4(F.col("sum_value")).alias("sum_value"),
        )
    )


_register(
    "events_sliding_1h_30m",
    Query(
        spark=_events_sliding,
        sql=f"""
WITH x AS (
  SELECT event_type, value,
    unnest([time_bucket(INTERVAL '30 minutes', ts),
            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
      AS wstart
  FROM events
)
SELECT CAST(epoch(wstart) AS BIGINT) AS window_start, event_type,
  count(*) AS n, {_r('sum(value)', 'sum_value')}
FROM x GROUP BY 1, 2""",
    ),
)


def _events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "user_id",
        F.unix_timestamp(F.col("w.start")).alias("session_start"),
        "n_events",
    )


_register(
    "events_sessionize_30m",
    Query(
        spark=_events_sessions,
        sql="""
WITH o AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              >= INTERVAL '30 minutes'
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, ts,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id,
  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
  count(*) AS n_events
FROM s GROUP BY user_id, sid""",
    ),
)


# --------------------------------------------------------------------- #
# Relational coverage (joins / aggregates / top-k / rollup)
# --------------------------------------------------------------------- #


def _utc_cutoff(epoch_s: int):
    """TZ-independent cutoff: a string→timestamp cast parses in the SESSION
    timezone (the driver's session may not be UTC), shifting the instant vs
    DuckDB's naive timestamps.  timestamp_seconds(epoch) is absolute.
    Built lazily — column construction needs an active SparkContext."""
    return F.timestamp_seconds(F.lit(epoch_s))


def _tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") <= _utc_cutoff(904694400))  # 1998-09-02
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        round4(F.col("sum_qty")).alias("sum_qty"),
        round4(slog(F.col("sum_base_price"))).alias("sum_base_price"),
        round4(slog(F.col("sum_disc_price"))).alias("sum_disc_price"),
        round4(F.col("avg_qty")).alias("avg_qty"),
        round4(F.col("avg_price")).alias("avg_price"),
        round4(F.col("avg_disc")).alias("avg_disc"),
        "count_order",
    )


_register(
    "tpch_q1",
    Query(
        spark=_tpch_q1,
        sql=f"""
WITH a AS (
  SELECT l_returnflag, l_linestatus,
    sum(l_quantity) AS sum_qty,
    sum(l_extendedprice) AS sbp,
    sum(l_extendedprice * (1 - l_discount)) AS sdp,
    avg(l_quantity) AS avg_qty,
    avg(l_extendedprice) AS avg_price,
    avg(l_discount) AS avg_disc,
    count(*) AS count_order
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
  {_r('sum_qty', 'sum_qty')},
  {_r('sign(sbp) * ln(1 + abs(sbp))', 'sum_base_price')},
  {_r('sign(sdp) * ln(1 + abs(sdp))', 'sum_disc_price')},
  {_r('avg_qty', 'avg_qty')},
  {_r('avg_price', 'avg_price')},
  {_r('avg_disc', 'avg_disc')},
  count_order
FROM a""",
    ),
)


def _tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = _utc_cutoff(795225600)  # 1995-03-15
    j = (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    rev = (
        j.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .select("l_orderkey", round4(F.col("rev")).alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("l_orderkey", "revenue", "rank")
    )


_register(
    "tpch_q3_topk",
    Query(
        spark=_tpch_q3,
        sql=f"""
WITH rev AS (
  SELECT l_orderkey,
    {_r("sum(l_extendedprice * (1 - l_discount))", 'revenue')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1995-03-15'
    AND l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY 1
),
ranked AS (
  SELECT l_orderkey, revenue,
    row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS rank
  FROM rev
)
SELECT l_orderkey, revenue, rank FROM ranked WHERE rank <= 10""",
    ),
)


def _tpch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .select(
            "l_returnflag",
            "l_linestatus",
            "n",
            round4(F.col("sum_qty")).alias("sum_qty"),
        )
    )


_register(
    "rollup_lineitem",
    Query(
        spark=_tpch_rollup,
        sql=f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
  {_r('sum(l_quantity)', 'sum_qty')}
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    ),
)


def _topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "event_id", round4(F.col("value")).alias("value"), "rank")
    )


_register(
    "topk_per_group",
    Query(
        spark=_topk_events,
        sql=f"""
WITH ranked AS (
  SELECT event_type, event_id, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
  FROM events
)
SELECT event_type, event_id, {_r('value', 'value')}, rank
FROM ranked WHERE rank <= 3""",
    ),
)


# --------------------------------------------------------------------- #
# Multimodal plumbing (stubbed decode, real Arrow pipeline)
# --------------------------------------------------------------------- #


def _multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(_docs(spark, sf_dir))
    meta = multimodal.decode_image_meta(docs)
    return meta.select("doc_id", "width", "height", "n_bytes", "format")


_register(
    "multimodal_image_meta",
    Query(
        spark=_multimodal,
        sql="""
SELECT doc_id,
  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
  CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  'FAKE' AS format
FROM documents""",
    ),
)


def _audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(_docs(spark, sf_dir))
    frames = multimodal.audio_frame_features(docs.select("doc_id", "payload"))
    return frames.select(
        "doc_id",
        "frame_idx",
        round4(F.col("rms")).alias("rms_r"),
        "zero_crossings",
        round4(F.col("peak")).alias("peak_r"),
    )


# Oracle replays the whole fake-codec + framing pipeline relationally:
# bytes → centered samples (documents are pure ASCII, so ascii(char) ==
# byte), zero-padded to frame_len, exploded to (doc, frame, sample) and
# re-aggregated per frame.  Exercises the 1:N exploding mapInPandas shape
# end-to-end against an independent engine.
_register(
    "multimodal_audio_frames",
    Query(
        spark=_audio_frames,
        sql="""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         greatest(octet_length(encode(text)), 256) AS m
  FROM documents
),
fr AS (
  SELECT doc_id, n, CAST(t.f AS INT) AS f
  FROM d, unnest(range(0, (m - 256) // 128 + 1)) AS t(f)
),
samp AS (
  SELECT d.doc_id, t.i,
    CASE WHEN t.i <= n
         THEN (ascii(substr(text, CAST(t.i AS INT), 1)) - 128.0) / 128.0
         ELSE 0.0 END AS s
  FROM d, unnest(range(1, m + 1)) AS t(i)
),
samp2 AS (
  SELECT *, lead(s) OVER (PARTITION BY doc_id ORDER BY i) AS s_next FROM samp
)
SELECT fr.doc_id, fr.f AS frame_idx,
  {rms},
  CAST(sum(CASE WHEN samp2.i < fr.f*128+256 AND ((s<0) != (s_next<0))
                THEN 1 ELSE 0 END) AS INT) AS zero_crossings,
  {peak}
FROM fr JOIN samp2 ON samp2.doc_id = fr.doc_id
  AND samp2.i BETWEEN fr.f*128+1 AND fr.f*128+256
GROUP BY fr.doc_id, fr.f""".format(
            rms=_r("sqrt(sum(s*s)/256.0)", "rms_r"),
            peak=_r("max(abs(s))", "peak_r"),
        ),
    ),
)


# --------------------------------------------------------------------- #
# Lineitem-derived prices (FIXTURES.md F2): the larger multi-symbol series
# (~60k rows at sf0.01, ~600k at sf0.1; 3 symbols) — same operators on a
# date-granular, heavily-tied order key (seq breaks ties on both sides).
# --------------------------------------------------------------------- #


def _li_sql(body: str) -> str:
    return f"WITH {PRICES_SQL_LINEITEM.strip()}, {body}"


def _li_query(op, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..core import Indicators

        # order key extended with (close, volume): seq can tie (see
        # prices_from_lineitem)
        ind = Indicators(
            prices_from_lineitem(spark, sf_dir),
            order_by=("timestamp", "seq", "close", "volume"),
        )
        op(ind)
        df = ind.collect()
        sel = [df["symbol"], df["seq"]] + [round4(df[c]).alias(c) for c in outs]
        return df.select(*sel)

    return fn


_register(
    "lineitem_sma",
    Query(
        spark=_li_query(lambda i: i.sma(["close"], 30), ["close_sma_30"]),
        sql=_li_sql(
            f"""out AS (
  SELECT symbol, seq, {_gated('avg(close)', 'close', 30, _ws(30, order=LINEITEM_ORDER))} AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'close_sma_30')} FROM out"""
        ),
    ),
)

_LI_RSI_SQL = _li_sql(
    f"""d AS (
  SELECT *, close, volume, close - lag(close) OVER {_word(False, order=LINEITEM_ORDER)} AS delta FROM prices
),
g AS (
  SELECT symbol, seq, "timestamp", close, volume,
    CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0 END AS gain,
    CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN abs(delta) ELSE 0 END AS loss
  FROM d
),
a AS (
  SELECT symbol, seq,
    {_gated('avg(gain)', 'gain', 14, _ws(14, order=LINEITEM_ORDER))} AS ag,
    {_gated('avg(loss)', 'loss', 14, _ws(14, order=LINEITEM_ORDER))} AS al
  FROM g
)
SELECT symbol, seq, {_r('100 - 100/(1 + ag/NULLIF(al, 0))', 'close_rsi_14')} FROM a"""
)

_register(
    "lineitem_rsi",
    Query(
        spark=_li_query(lambda i: i.rsi(["close"], 14), ["close_rsi_14"]),
        sql=_LI_RSI_SQL,
    ),
)


def _li_rsi_halo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same values as ``lineitem_rsi`` (same oracle SQL), computed with the
    distributed halo kernels instead of single-task windows: the faithful
    *global* delta becomes a halo lag (range-bucketed by ship date), the
    per-symbol rolling means become one partitioned halo pass — no stage in
    the plan runs as a single task, so the query scales with cores/executors
    instead of with 1 (global) / #symbols (3).  See scale.py.

    Size-dispatched (scale.rolling_multi_auto/lag_auto): below
    ``HALO_MIN_ROWS`` the halo overhead dominates and the kernels fall back
    to the plain window form — the row count rides the bounds min/max scan
    for free, so bench-scale inputs pay no halo tax while ≥threshold inputs
    plan no single-task stage (pinned in tests/test_plans.py)."""
    from .. import kernels as K
    from ..scale import lag_auto, rolling_multi_auto

    order = ("timestamp", "seq", "close", "volume")
    # Minimal base projection — RSI reads only the close series, so skip
    # the OHLC derivation entirely (its open/high/low lag-window would cost
    # an extra per-symbol window stage for columns this query never uses).
    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        F.col("l_returnflag").alias("symbol"),
        F.col("l_shipdate").alias("timestamp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.col("l_extendedprice").alias("close"),
        F.col("l_quantity").cast("double").alias("volume"),
        F.unix_timestamp(F.col("l_shipdate")).alias("_bkey"),
    )
    # bounds + row count from parquet footer metadata (scale.py design
    # note): zero Spark jobs, shared by both halo passes and the size
    # dispatch — the faithful twin pays no pre-scan, so neither does this
    from ..scale import parquet_footer_stats

    n_rows, lo, hi = parquet_footer_stats(
        f"{sf_dir}/lineitem.parquet", "l_shipdate"
    )
    if lo is None:  # footer stats missing → one min/max scan (no count)
        lo, hi = li.agg(
            F.min(F.unix_timestamp("l_shipdate")).cast("double"),
            F.max(F.unix_timestamp("l_shipdate")).cast("double"),
        ).first()
    bounds = (lo, hi)
    d = lag_auto(
        p,
        "close",
        1,
        order_cols=order,
        buckets=32,
        out="_prev",
        bucket_by="_bkey",
        bounds=bounds,
        n_rows=n_rows,
    )
    delta = F.col("close") - F.col("_prev")
    g = d.withColumns(
        {
            "_gain": K.when_nullsafe(delta > 0, delta, F.lit(0.0)),
            "_loss": K.when_nullsafe(delta < 0, F.abs(delta), F.lit(0.0)),
        }
    )
    # The rolling pass is PER-SYMBOL (already #symbols-way parallel), so
    # it clears the per-key floor, not the global one: an r13 ABBA of
    # this exact composed shape measured halo-lag + PLAIN-rolling faster
    # than halo-ing both at every probed size (2.4M rows: 3.3 s vs
    # 4.9 s; 7.8M: 8.4 s vs 10.0 s warm) — consistent with the r12
    # fluent-session crossover of ≈16M rows/symbol.  l_returnflag has 3
    # values, so the total-row floor is 3× the per-key constant.
    from ..scale import PER_KEY_HALO_MIN_ROWS

    a = rolling_multi_auto(
        g,
        [("mean", "_gain", "_ag"), ("mean", "_loss", "_al")],
        14,
        order_cols=order,
        buckets=32,
        bucket_by="_bkey",
        partition_cols=("symbol",),
        bounds=bounds,
        n_rows=n_rows,
        min_rows=3 * PER_KEY_HALO_MIN_ROWS,
    )
    rsi = 100 - K.safe_div(
        F.lit(100.0), 1 + K.safe_div(F.col("_ag"), F.col("_al"))
    )
    return a.select("symbol", "seq", round4(rsi).alias("close_rsi_14"))


_register(
    "lineitem_rsi_halo",
    Query(spark=_li_rsi_halo, sql=_LI_RSI_SQL),
)


# --------------------------------------------------------------------- #
# Fluent halo session with catalog-metadata hints.  The existing halo
# twins drive the EXPLICIT scale kernels (lag_auto /
# rolling_multi_auto); this one drives the fluent ``Indicators(...,
# n_rows=, order_bounds=)`` zero-pre-job engagement path end-to-end: row
# count and order-key bounds come from parquet FOOTER statistics
# (scale.parquet_footer_stats — the stand-in for Delta/Iceberg column
# stats at 100 TB), so the session engages with no Spark job before the
# first window stage (job-count pinned in
# tests/test_plans_r12.py).  Symbol-less close series from lineitem (the
# fluent session's primary shape): Cutler RSI-14, same expression family
# as the green `lineitem_rsi`, windows global instead of
# per-symbol.  Ties on (timestamp, seq, close, volume) are bit-identical
# rows, so the lag among them is order-free on both engines.
# --------------------------------------------------------------------- #

HINTED_HALO_DEPTH = 256
HINTED_HALO_BUCKETS = 32


def _li_rsi_halo_hinted_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..core import Indicators
    from ..scale import parquet_footer_stats
    from ..sources.prices import load_table

    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        F.col("l_shipdate").alias("timestamp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.col("l_extendedprice").alias("close"),
        F.col("l_quantity").cast("double").alias("volume"),
    )
    n_rows, lo, hi = parquet_footer_stats(
        f"{sf_dir}/lineitem.parquet", "l_shipdate"
    )
    hints = (
        {"n_rows": n_rows, "order_bounds": (float(lo), float(hi))}
        if lo is not None
        else {}  # footer stats missing → the session probes (still exact)
    )
    ind = Indicators(
        p,
        order_by=("timestamp", "seq", "close", "volume"),
        halo=True,
        halo_buckets=HINTED_HALO_BUCKETS,
        halo_depth=HINTED_HALO_DEPTH,
        **hints,
    )
    ind.rsi(["close"], 14)
    df = ind.collect()
    return df.select("seq", round4(df["close_rsi_14"]).alias("close_rsi_14"))


def _li_rsi_halo_hinted_sql() -> str:
    from ..sources.prices import LINEITEM_ORDER

    return f"""
WITH prices AS (
  SELECT l_shipdate AS "timestamp",
    l_orderkey * 10 + l_linenumber AS seq,
    CAST(l_extendedprice AS DOUBLE) AS close,
    CAST(l_quantity AS DOUBLE) AS volume
  FROM lineitem
),
d AS (
  SELECT *, close - lag(close) OVER (ORDER BY {LINEITEM_ORDER}) AS delta
  FROM prices
),
g AS (
  SELECT "timestamp", seq, close, volume,
    CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0 END AS gain,
    CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN abs(delta) ELSE 0 END AS loss
  FROM d
),
a AS (
  SELECT seq,
    {_gated('avg(gain)', 'gain', 14, _ws(14, False, order=LINEITEM_ORDER))} AS ag,
    {_gated('avg(loss)', 'loss', 14, _ws(14, False, order=LINEITEM_ORDER))} AS al
  FROM g
)
SELECT seq, {_r('100 - 100/(1 + ag/NULLIF(al, 0))', 'close_rsi_14')} FROM a"""


_register(
    "lineitem_rsi_halo_hinted",
    Query(spark=_li_rsi_halo_hinted_spark, sql=_li_rsi_halo_hinted_sql()),
)


_register(
    "lineitem_donchian",
    Query(
        spark=_li_query(
            lambda i: i.donchian_channel(50),
            ["donchian_upper_50", "donchian_lower_50", "donchian_mid_50"],
        ),
        sql=_li_sql(
            f"""t AS (
  SELECT symbol, seq,
    {_gated('max(high)', 'high', 50, _ws(50, False, order=LINEITEM_ORDER))} AS up,
    {_gated('min(low)', 'low', 50, _ws(50, False, order=LINEITEM_ORDER))} AS lo
  FROM prices
)
SELECT symbol, seq,
  {_r('up', 'donchian_upper_50')},
  {_r('lo', 'donchian_lower_50')},
  {_r('(up + lo)/2', 'donchian_mid_50')}
FROM t"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# fill_null strategy coverage (backward + mean; forward is in the
# indicators family)
# --------------------------------------------------------------------- #


def _fill_null_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..core import Indicators
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir).withColumns(
        {
            "bwd": F.when(F.col("seq") % 5 != 0, F.col("close")),
            "mean_filled": F.when(F.col("seq") % 5 != 0, F.col("close")),
            "zero_filled": F.when(F.col("seq") % 5 != 0, F.col("close")),
        }
    )
    ind = Indicators(p, order_by=("timestamp", "seq"))
    ind.fill_null(["bwd"], method="backward")
    ind.fill_null(["mean_filled"], method="mean")
    ind.fill_null(["zero_filled"], method="zero")
    df = ind.collect()
    return df.select(
        "symbol",
        "seq",
        round4(df["bwd"]).alias("bwd"),
        round4(df["mean_filled"]).alias("mean_filled"),
        round4(df["zero_filled"]).alias("zero_filled"),
    )

_register(
    "fill_null_strategies",
    Query(
        spark=_fill_null_multi,
        sql=_sql(
            f"""g AS (
  SELECT symbol, seq, "timestamp",
    CASE WHEN seq % 5 != 0 THEN close END AS gappy
  FROM prices
),
f AS (
  SELECT symbol, seq,
    first_value(gappy IGNORE NULLS) OVER (
      PARTITION BY symbol ORDER BY "timestamp", seq
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bwd,
    COALESCE(gappy, avg(gappy) OVER (PARTITION BY symbol)) AS mean_filled,
    COALESCE(gappy, 0) AS zero_filled
  FROM g
)
SELECT symbol, seq,
  {_r('bwd', 'bwd')},
  {_r('mean_filled', 'mean_filled')},
  {_r('zero_filled', 'zero_filled')}
FROM f"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# SimHash Hamming pairs + 5-table join coverage
# --------------------------------------------------------------------- #


def _simhash_pairs_sql() -> str:
    base = _simhash_sql()
    bands = " UNION ALL ".join(
        f"SELECT a.doc_id AS ia, b.doc_id AS ib, a.simhash AS sa, b.simhash AS sb "
        f"FROM sh a JOIN sh b ON ((a.simhash >> {b * 8}) & 255) = ((b.simhash >> {b * 8}) & 255) "
        f"AND a.doc_id < b.doc_id"
        for b in range(4)
    )
    return f"""
WITH sh AS ({base})
, cand AS (
  SELECT DISTINCT ia, ib, sa, sb FROM ({bands})
)
SELECT ia, ib, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""


_register(
    "dedup_simhash_pairs",
    Query(
        spark=lambda s, d: dedup.simhash_pairs(_docs(s, d), max_hamming=3),
        sql=_simhash_pairs_sql(),
    ),
)


def _tpch_q5ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join over region→nation→customer→orders→lineitem with
    broadcast dimensions and a grouped revenue rollup (signed-log
    compared)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    out = j.groupBy("r_name", "n_name").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return out.select(
        "r_name",
        "n_name",
        round4(slog(F.col("rev"))).alias("revenue"),
        "n_items",
    )


_register(
    "tpch_q5_join5",
    Query(
        spark=_tpch_q5ish,
        sql=f"""
WITH a AS (
  SELECT r_name, n_name,
    sum(l_extendedprice * (1 - l_discount)) AS rev,
    count(*) AS n_items
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name,
  {_r('sign(rev) * ln(1 + abs(rev))', 'revenue')},
  n_items
FROM a""",
    ),
)


def _tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight filter + single aggregate — the pushdown
    showcase (every predicate reaches the parquet scan; no shuffle at all
    beyond the final 1-row agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= _utc_cutoff(788918400))  # 1995-01-01
        & (F.col("l_shipdate") < _utc_cutoff(820454400))  # 1996-01-01
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("rev"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return out.select(
        round4(slog(F.col("rev"))).alias("revenue_slog"), "n_items"
    )


_register(
    "tpch_q6",
    Query(
        spark=_tpch_q6,
        sql=f"""
WITH a AS (
  SELECT sum(l_extendedprice * l_discount) AS rev, count(*) AS n_items
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <  TIMESTAMP '1996-01-01'
    AND l_discount BETWEEN 0.05 AND 0.07
    AND l_quantity < 24
)
SELECT {_r('sign(rev) * ln(1 + abs(rev))', 'revenue_slog')}, n_items FROM a""",
    ),
)


def _tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): the HAVING aggregate shrinks
    lineitem to a few thousand keys, so BOTH subsequent joins broadcast —
    one shuffle total (the groupBy), zero join exchanges."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    j = orders.join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
    ).join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    return j.select(
        "c_custkey",
        "o_orderkey",
        round4(F.col("o_totalprice")).alias("total_price"),
        round4(F.col("total_qty")).alias("total_qty"),
    )


_register(
    "tpch_q18",
    Query(
        spark=_tpch_q18,
        sql=f"""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS tq
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
)
SELECT c_custkey, o_orderkey,
  {_r('o_totalprice', 'total_price')},
  {_r('tq', 'total_qty')}
FROM orders
JOIN big      ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey""",
    ),
)


def _range_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join via bucketing (functions/joins.py
    range_join): every 500th row opens a 100-seq interval; points aggregate
    per containing interval.  The oracle is the PLAIN non-equi join — the
    binning is a pure physical rewrite."""
    from ..functions.joins import range_join
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    points = p.select("symbol", "seq", "close")
    intervals = (
        p.filter(F.col("seq") % 500 == 0)
        .select(
            "symbol",
            F.col("seq").alias("i_start"),
            (F.col("seq") + F.lit(99)).alias("i_end"),
        )
        .distinct()
    )
    j = range_join(
        points, intervals, "seq", "i_start", "i_end", bucket_width=100,
        by=["symbol"],
    )
    return j.groupBy("symbol", "i_start").agg(
        F.count(F.lit(1)).alias("n_points"),
        round4(F.avg("close")).alias("avg_close"),
    )


_register(
    "range_join_intervals",
    Query(
        spark=_range_join_query,
        sql=_sql(
            f"""i AS (
  SELECT DISTINCT symbol, seq AS i_start, seq + 99 AS i_end
  FROM prices WHERE seq % 500 = 0
),
j AS (
  SELECT p.symbol, i.i_start, p.close
  FROM prices p
  JOIN i ON p.symbol = i.symbol AND p.seq BETWEEN i.i_start AND i.i_end
)
SELECT symbol, i_start, count(*) AS n_points, {_r('avg(close)', 'avg_close')}
FROM j GROUP BY symbol, i_start"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# per_symbol partition mode (the scalable extension): same operators, every
# window partitioned by symbol — oracle uses per-symbol SQL windows.
# --------------------------------------------------------------------- #


def _per_symbol_query(op, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..core import Indicators
        from ..sources.prices import prices_from_events

        ind = Indicators(
            prices_from_events(spark, sf_dir),
            order_by=("timestamp", "seq"),
            partition_mode="per_symbol",
        )
        op(ind)
        df = ind.collect()
        sel = [df["symbol"], df["seq"]] + [round4(df[c]).alias(c) for c in outs]
        return df.select(*sel)

    return fn

_register(
    "atr_per_symbol",
    Query(
        spark=_per_symbol_query(lambda i: i.atr(14), ["atr"]),
        sql=_sql(
            f"""t AS (
  SELECT symbol, seq, "timestamp",
    greatest(high - low,
             abs(high - lag(close) OVER {_word(True)}),
             abs(low  - lag(close) OVER {_word(True)})) AS tr
  FROM prices
)
SELECT symbol, seq, {_r(_gated('avg(tr)', 'tr', 14, _ws(14, True)), 'atr')} FROM t"""
        ),
    ),
)

_register(
    "vwap_per_symbol",
    Query(
        spark=_per_symbol_query(lambda i: i.vwap(), ["vwap"]),
        sql=_sql(
            f"""t AS (
  SELECT symbol, seq,
    sum((high + low + close)/3 * volume)
      OVER (PARTITION BY symbol ORDER BY "timestamp", seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num,
    sum(volume)
      OVER (PARTITION BY symbol ORDER BY "timestamp", seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS den
  FROM prices
)
SELECT symbol, seq, {_r('num / NULLIF(den, 0)', 'vwap')} FROM t"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# kama_ext / psar_ext — working extensions of the reference's stubs
# --------------------------------------------------------------------- #

_register(
    "kama_ext",
    Query(
        spark=_per_symbol_query(
            lambda i: i.kama_ext(["close"], er_period=10, fast=2, slow=30),
            ["close_kama_10"],
        ),
        # exact recursive replay: sc is pure window SQL, the variable-alpha
        # recurrence y' = y + sc*(x - y) anchors at rn = er_period + 1
        sql=_sql(
            f"""{{base}},
d AS (
  SELECT symbol, seq, "timestamp", close, rn,
    abs(close - lag(close) OVER (PARTITION BY symbol ORDER BY rn)) AS ad
  FROM base
),
s1 AS (
  SELECT symbol, seq, rn, close,
    abs(close - lag(close, 10) OVER (PARTITION BY symbol ORDER BY rn))
      / NULLIF({_gated('sum(ad)', 'ad', 10, '(PARTITION BY symbol ORDER BY rn ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)')}, 0)
      AS er
  FROM d
),
s2 AS (
  SELECT symbol, seq, rn, close,
    (er * (2.0/3 - 2.0/31) + 2.0/31) * (er * (2.0/3 - 2.0/31) + 2.0/31) AS sc
  FROM s1
),
rec AS (
  SELECT symbol, seq, rn, close, sc, close AS y FROM s2 WHERE rn = 11
  UNION ALL
  SELECT b.symbol, b.seq, b.rn, b.close, b.sc,
         r.y + b.sc * (b.close - r.y)
  FROM s2 b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
),
out AS (
  SELECT symbol, seq, y FROM rec
  UNION ALL
  SELECT symbol, seq, CAST(NULL AS DOUBLE) FROM s2 WHERE rn <= 10
)
SELECT symbol, seq, {_r('y', 'close_kama_10')} FROM out""".format(
                base=f"""base AS (
  SELECT symbol, seq, "timestamp", close,
         row_number() OVER (PARTITION BY symbol ORDER BY "timestamp", seq) AS rn
  FROM prices
)"""
            ),
            recursive=True,
        ),
    ),
)


def _psar_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..core import Indicators
    from ..sources.prices import prices_from_events

    # seq<2500 subset: the oracle replays the trend-flip machine row-by-row
    # in a recursive CTE, so its cost ∝ recursion depth (same discipline as
    # the global-EWM oracles' _CUT).  The filter precedes the state machine
    # on BOTH engines, so the compared semantics are identical.
    p = prices_from_events(spark, sf_dir).filter(F.col("seq") < 2500)
    ind = Indicators(p, order_by=("timestamp", "seq"), partition_mode="per_symbol")
    ind.psar_ext()
    df = ind.collect()
    return df.select("symbol", "seq", round4(F.col("psar")).alias("psar"))


def _psar_sql() -> str:
    order = '"timestamp", seq'
    # s2 = the accelerated-and-clamped SAR candidate, before flip checks —
    # exactly the Python scan's `sar = min/max(sar + af*(ep-sar), ...)`
    s2 = (
        "(CASE WHEN r.rising THEN least(r.sar + r.af*(r.ep - r.sar), b.pl)"
        " ELSE greatest(r.sar + r.af*(r.ep - r.sar), b.ph) END)"
    )
    # MATERIALIZED: DuckDB re-evaluates plain CTEs on every recursion
    # level (833 levels × scan+window = 30s+); materializing base makes
    # the per-level join a tiny table lookup (measured 33.8s → 1.5s)
    body = f"""sub AS MATERIALIZED (
  SELECT * FROM prices WHERE seq < 2500
),
base AS MATERIALIZED (
  SELECT symbol, seq, high, low,
    row_number() OVER (PARTITION BY symbol ORDER BY {order}) AS rn,
    lag(high) OVER (PARTITION BY symbol ORDER BY {order}) AS ph,
    lag(low)  OVER (PARTITION BY symbol ORDER BY {order}) AS pl
  FROM sub
),
init AS (
  SELECT b1.symbol, b1.seq,
    (b2.high + b2.low >= b1.high + b1.low) AS rising0,
    CASE WHEN b2.high + b2.low >= b1.high + b1.low THEN b1.low ELSE b1.high END AS sar0,
    CASE WHEN b2.high + b2.low >= b1.high + b1.low THEN b1.high ELSE b1.low END AS ep0
  FROM base b1 JOIN base b2 ON b1.symbol = b2.symbol AND b1.rn = 1 AND b2.rn = 2
),
rec AS (
  SELECT symbol, seq, 1 AS rn, rising0 AS rising, sar0 AS sar, ep0 AS ep,
         0.02 AS af, CAST(NULL AS DOUBLE) AS psar
  FROM init
  UNION ALL
  SELECT b.symbol, b.seq, b.rn,
    CASE WHEN r.rising THEN (b.low >= {s2}) ELSE (b.high > {s2}) END,
    CASE WHEN r.rising THEN (CASE WHEN b.low < {s2} THEN r.ep ELSE {s2} END)
         ELSE (CASE WHEN b.high > {s2} THEN r.ep ELSE {s2} END) END,
    CASE WHEN r.rising THEN (CASE WHEN b.low < {s2} THEN b.low WHEN b.high > r.ep THEN b.high ELSE r.ep END)
         ELSE (CASE WHEN b.high > {s2} THEN b.high WHEN b.low < r.ep THEN b.low ELSE r.ep END) END,
    CASE WHEN r.rising THEN (CASE WHEN b.low < {s2} THEN 0.02 WHEN b.high > r.ep THEN least(r.af + 0.02, 0.2) ELSE r.af END)
         ELSE (CASE WHEN b.high > {s2} THEN 0.02 WHEN b.low < r.ep THEN least(r.af + 0.02, 0.2) ELSE r.af END) END,
    CASE WHEN r.rising THEN (CASE WHEN b.low < {s2} THEN r.ep ELSE {s2} END)
         ELSE (CASE WHEN b.high > {s2} THEN r.ep ELSE {s2} END) END
  FROM rec r JOIN base b ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, seq, {_r('psar', 'psar')} FROM rec"""
    return _sql(body, recursive=True)


# The trend-flip state machine IS SQL-expressible after all: a recursive
# CTE carries (rising, sar, ep, af) per step — upgraded from rows-only to a
# full value-hash oracle (validated exactly, 10000/10000 rows, before the
# cost-bounding subset was applied).
_register(
    "psar_ext",
    Query(
        spark=_psar_query,
        sql=_psar_sql(),
    ),
)


# --------------------------------------------------------------------- #
# as-of join (custom operator Spark lacks; DuckDB has native ASOF JOIN)
# --------------------------------------------------------------------- #


def _asof_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.joins import asof_join
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    left = p.select("symbol", "timestamp", "seq", "close")
    # snapshots: every 10th event — unique (symbol, timestamp) by data
    right = p.filter(F.col("seq") % 10 == 0).select(
        "symbol", "timestamp", F.col("close").alias("snap")
    )
    out = asof_join(left, right, on="timestamp", by=["symbol"], value_cols=["snap"])
    return out.select(
        "symbol", "seq", round4(F.col("snap_right")).alias("snap_right")
    )


_register(
    "asof_join",
    Query(
        spark=_asof_query,
        sql=_sql(
            f"""l AS (
  SELECT symbol, "timestamp" AS ts, seq, close FROM prices
),
r AS (
  SELECT symbol, "timestamp" AS ts, close AS snap FROM prices WHERE seq % 10 = 0
),
j AS (
  SELECT l.symbol, l.seq, r.snap
  FROM l ASOF LEFT JOIN r ON l.symbol = r.symbol AND l.ts >= r.ts
)
SELECT symbol, seq, {_r('snap', 'snap_right')} FROM j"""
        ),
    ),
)


def _salted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"), on="l_partkey"
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        round4(F.sum("l_quantity")).alias("sum_qty"),
        round4(slog(F.sum("l_extendedprice"))).alias("sum_price_slog"),
    )


# The salt is invisible to the result: oracle is the PLAIN join+agg — the
# parity check proves salting is a pure physical rewrite.
_register(
    "skew_salted_join",
    Query(
        spark=_salted_query,
        sql=f"""
WITH a AS (
  SELECT p_brand, count(*) AS n, sum(l_quantity) AS sq,
    sum(l_extendedprice) AS sp
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n, {_r('sq', 'sum_qty')},
  {_r('sign(sp) * ln(1 + abs(sp))', 'sum_price_slog')}
FROM a""",
    ),
)


# --------------------------------------------------------------------- #
# pivot + exact distributed statistics
# --------------------------------------------------------------------- #


def _pivot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
    )
    return out.select(
        "l_returnflag",
        round4(F.col("O")).alias("qty_O"),
        round4(F.col("F")).alias("qty_F"),
    )


_register(
    "pivot_lineitem",
    Query(
        spark=_pivot_query,
        sql=f"""
SELECT l_returnflag,
  {_r("sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)", 'qty_O')},
  {_r("sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)", 'qty_F')}
FROM lineitem GROUP BY l_returnflag""",
    ),
)


def _stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )
    return out.select(
        "l_returnflag",
        "distinct_parts",
        round4(F.col("median_price")).alias("median_price"),
        round4(F.col("min_price")).alias("min_price"),
        round4(F.col("max_price")).alias("max_price"),
    )


_register(
    "stats_exact",
    Query(
        spark=_stats_query,
        sql=f"""
SELECT l_returnflag,
  count(DISTINCT l_partkey) AS distinct_parts,
  {_r('quantile_cont(l_extendedprice, 0.5)', 'median_price')},
  {_r('min(l_extendedprice)', 'min_price')},
  {_r('max(l_extendedprice)', 'max_price')}
FROM lineitem GROUP BY l_returnflag""",
    ),
)


# --------------------------------------------------------------------- #
# resampling (tick -> OHLCV bars), rolling correlation, z-score
# --------------------------------------------------------------------- #


def _resample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    w = F.window(F.col("timestamp"), "1 hour").alias("w")
    out = p.groupBy(w, "symbol").agg(
        F.min_by("open", F.struct("timestamp", "seq")).alias("o"),
        F.max("high").alias("h"),
        F.min("low").alias("l"),
        F.max_by("close", F.struct("timestamp", "seq")).alias("c"),
        F.sum("volume").alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("bar_start"),
        "symbol",
        round4(F.col("o")).alias("open"),
        round4(F.col("h")).alias("high"),
        round4(F.col("l")).alias("low"),
        round4(F.col("c")).alias("close"),
        round4(F.col("v")).alias("volume"),
        "n",
    )


_register(
    "resample_ohlcv_1h",
    Query(
        spark=_resample_query,
        sql=_sql(
            f"""b AS (
  SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', "timestamp")) AS BIGINT) AS bar_start,
    symbol,
    (min({{'t': "timestamp", 's': seq, 'v': open}})).v AS o,
    max(high) AS h,
    min(low) AS l,
    (max({{'t': "timestamp", 's': seq, 'v': close}})).v AS c,
    sum(volume) AS v,
    count(*) AS n
  FROM prices GROUP BY 1, 2
)
SELECT bar_start, symbol,
  {_r('o', 'open')}, {_r('h', 'high')}, {_r('l', 'low')}, {_r('c', 'close')},
  {_r('v', 'volume')}, n
FROM b"""
        ),
    ),
)


def _rolling_corr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import kernels as K
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    w = K.w_rows(20, ("symbol",), ("timestamp", "seq"))
    # corr from covar/stddev with safe_div: Spark's Corr aggregate throws
    # ANSI DIVIDE_BY_ZERO on a zero-variance window (any 20 constant
    # closes — hit at sf0.001); this form yields NULL there, matching
    # DuckDB corr's NULL
    cv = K.gated(F.covar_samp(F.col("close"), F.col("volume")), "close", 20, w)
    sa = K.gated(F.stddev_samp(F.col("close")), "close", 20, w)
    sb = K.gated(F.stddev_samp(F.col("volume")), "close", 20, w)
    corr = K.safe_div(cv, sa * sb)
    return p.select("symbol", "seq", round4(corr).alias("corr_close_vol_20"))


_register(
    "rolling_corr",
    Query(
        spark=_rolling_corr_query,
        sql=_sql(
            f"""c AS (
  SELECT symbol, seq,
    {_gated('corr(close, volume)', 'close', 20, _ws(20, True))} AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'corr_close_vol_20')} FROM c"""
        ),
    ),
)


def _zscore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import kernels as K
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    w = K.w_rows(20, ("symbol",), ("timestamp", "seq"))
    z = K.safe_div(
        F.col("close") - K.rolling_mean("close", 20, w),
        K.rolling_std("close", 20, w),
    )
    return p.select("symbol", "seq", round4(z).alias("zscore_20"))


_register(
    "zscore",
    Query(
        spark=_zscore_query,
        sql=_sql(
            f"""c AS (
  SELECT symbol, seq,
    (close - {_gated('avg(close)', 'close', 20, _ws(20, True))})
      / NULLIF({_gated('stddev_samp(close)', 'close', 20, _ws(20, True))}, 0) AS v
  FROM prices
)
SELECT symbol, seq, {_r('v', 'zscore_20')} FROM c"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# MERGE / SCD2 emulation (no table-format jars: anti-join+union+window)
# --------------------------------------------------------------------- #


def _merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.merge import merge_upsert

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "updated_at", F.lit(0)
    )
    # synthetic update batch: every 10th customer gets +100 balance
    updates = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .withColumn("updated_at", F.lit(1))
    )
    merged = merge_upsert(cust, updates, key="c_custkey", order_col="updated_at")
    return merged.select(
        "c_custkey",
        round4(F.col("c_acctbal")).alias("c_acctbal"),
        "updated_at",
    )


_register(
    "merge_upsert",
    Query(
        spark=_merge_query,
        sql=f"""
WITH u AS (
  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, 1 AS updated_at
  FROM customer WHERE c_custkey % 10 = 0
),
merged AS (
  SELECT c_custkey, c_acctbal, 0 AS updated_at FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM u)
  UNION ALL
  SELECT * FROM u
)
SELECT c_custkey, {_r('c_acctbal', 'c_acctbal')}, updated_at FROM merged""",
    ),
)


def _scd2_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.merge import scd2

    # change log: each customer's orders as balance-history events
    orders = load_table(spark, sf_dir, "orders")
    hist = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("change_id"),
        F.col("o_totalprice").alias("balance"),
    )
    out = scd2(hist, key="custkey", order_col="change_id", tracked=["balance"])
    return out.select(
        "custkey",
        "change_id",
        round4(F.col("balance")).alias("balance"),
        "version",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    )


_register(
    "scd2_versions",
    Query(
        spark=_scd2_query,
        sql=f"""
WITH h AS (
  SELECT o_custkey AS custkey, o_orderkey AS change_id, o_totalprice AS balance
  FROM orders
),
d AS (
  SELECT *, row_number() OVER w AS _rn, lag(balance) OVER w AS _prev
  FROM h WINDOW w AS (PARTITION BY custkey ORDER BY change_id)
),
f AS (
  SELECT custkey, change_id, balance FROM d
  WHERE _rn = 1 OR balance IS DISTINCT FROM _prev
),
v AS (
  SELECT custkey, change_id, balance,
    row_number() OVER (PARTITION BY custkey ORDER BY change_id) AS version,
    lead(change_id) OVER (PARTITION BY custkey ORDER BY change_id) AS valid_to
  FROM f
)
SELECT custkey, change_id, {_r('balance', 'balance')}, version, valid_to,
  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
FROM v""",
    ),
)


# --------------------------------------------------------------------- #
# Relational breadth: JSON functions, CUBE grouping sets, set operations,
# Python UDAF registration (SURVEY §2's "maps to built-in Spark" list)
# --------------------------------------------------------------------- #


def _json_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column processing stays JVM-side: ``get_json_object`` is a
    codegen'd path expression — no Python in the loop, and only
    (event_type, k, value) survive past the scan projection."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    agg = (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("k").alias("avg_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("k") * F.col("value")).alias("kv"),
        )
    )
    return agg.select(
        "event_type",
        "n",
        round4(F.col("avg_k")).alias("avg_k"),
        "max_k",
        round4(slog(F.col("kv"))).alias("kv_slog"),
    )


_register(
    "json_extract_events",
    Query(
        spark=_json_query,
        sql=f"""
WITH j AS (
  SELECT event_type,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
  FROM events
),
a AS (
  SELECT event_type, count(*) AS n, avg(k) AS avg_k, max(k) AS max_k,
    sum(k * value) AS kv
  FROM j GROUP BY event_type
)
SELECT event_type, n, {_r('avg_k', 'avg_k')}, max_k,
  {_r('sign(kv) * ln(1 + abs(kv))', 'kv_slog')}
FROM a""",
    ),
)


def _cube_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, user bucket): all 4 grouping sets in ONE
    shuffle (Spark expands grouping sets map-side), disambiguated by the
    standard grouping_id bit encoding — identical on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.pmod(F.col("user_id"), F.lit(5)).alias("ub"), "value"
    )
    return (
        ev.cube("event_type", "ub")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            round4(F.avg("value")).alias("avg_value"),
        )
    )


_register(
    "cube_events",
    Query(
        spark=_cube_query,
        sql=f"""
WITH e AS (
  SELECT event_type, user_id % 5 AS ub, value FROM events
)
SELECT event_type, ub, CAST(GROUPING(event_type, ub) AS INT) AS gid,
  count(*) AS n, {_r('avg(value)', 'avg_value')}
FROM e GROUP BY CUBE(event_type, ub)""",
    ),
)


def _setops_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct set semantics) — customers ordering in
    both 1995 and 1996 vs only 1995.  Each set op is one hash shuffle on
    the key; the tag column makes the union's provenance explicit."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    both = a.intersect(b).withColumn("op", F.lit("both"))
    only = a.subtract(b).withColumn("op", F.lit("only_1995"))
    return both.unionByName(only)


_register(
    "setops_custkeys",
    Query(
        spark=_setops_query,
        sql="""
WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
i AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b),
e AS (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
SELECT o_custkey, 'both' AS op FROM i
UNION ALL
SELECT o_custkey, 'only_1995' AS op FROM e""",
    ),
)


def _udaf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered Python UDAF (Arrow grouped-agg pandas_udf): geometric
    mean of positive quantities per return flag.  The UDAF path ships one
    Arrow batch per group-partition — fine for low-cardinality keys; the
    oracle is the exp∘avg∘ln identity."""
    from pyspark.sql.functions import pandas_udf

    # real (non-stringized) Series -> float hints select the grouped-agg
    # flavor without the deprecated PandasUDFType constant; `pd.Series` is
    # resolvable here because this module imports pandas at top level
    def _geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v[v > 0]).mean()))

    geomean = pandas_udf(_geomean, "double")

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(geomean(F.col("l_quantity")).alias("gm"))
        .select("l_returnflag", round4(F.col("gm")).alias("geomean_qty"))
    )


_register(
    "udaf_geomean",
    Query(
        spark=_udaf_query,
        sql=f"""
WITH a AS (
  SELECT l_returnflag, exp(avg(ln(l_quantity))) AS gm
  FROM lineitem WHERE l_quantity > 0 GROUP BY l_returnflag
)
SELECT l_returnflag, {_r('gm', 'geomean_qty')} FROM a""",
    ),
)


def _li_donchian_halo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same values as ``lineitem_donchian`` (same oracle), computed with
    the distributed halo kernel: the faithful GLOBAL 50-row min/max
    windows (single-task by definition) become one range-bucketed halo
    pass — both aggs share the bucketing, the halo union, and the
    per-bucket window stage.  No single-task stage anywhere (cf.
    ``lineitem_rsi_halo``; scale.py).  Size-dispatched like
    ``lineitem_rsi_halo``: below HALO_MIN_ROWS the plain window form wins
    and the kernel falls back to it."""
    from ..scale import rolling_multi_auto

    order = ("timestamp", "seq", "close", "volume")
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("symbol"),
        F.col("l_shipdate").alias("timestamp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.col("l_extendedprice").alias("close"),
        F.col("l_quantity").cast("double").alias("volume"),
        F.unix_timestamp(F.col("l_shipdate")).alias("_bkey"),
    )
    # high/low derive from (open, close); open needs the per-symbol lag —
    # keep that window (per-symbol = parallel) and halo only the global
    # rolling extrema, exactly the faithful query's serial part.
    from pyspark.sql import Window as W

    w = W.partitionBy("symbol").orderBy(*order)
    p = base.withColumn(
        "open", F.coalesce(F.lag("close").over(w), F.col("close"))
    ).withColumns(
        {
            "high": F.greatest("open", "close") * 1.01,
            "low": F.least("open", "close") * 0.99,
        }
    )
    # row count + bucket bounds from parquet footers — no pre-scan job at
    # all (falls back to the kernel's own min/max scan if stats missing)
    from ..scale import parquet_footer_stats

    n_rows, lo, hi = parquet_footer_stats(
        f"{sf_dir}/lineitem.parquet", "l_shipdate"
    )
    rolled = rolling_multi_auto(
        p,
        [("max", "high", "_up"), ("min", "low", "_lo")],
        50,
        order_cols=order,
        buckets=32,
        bucket_by="_bkey",
        bounds=None if lo is None else (lo, hi),
        n_rows=n_rows,
    )
    return rolled.select(
        "symbol",
        "seq",
        round4(F.col("_up")).alias("donchian_upper_50"),
        round4(F.col("_lo")).alias("donchian_lower_50"),
        round4((F.col("_up") + F.col("_lo")) / 2).alias("donchian_mid_50"),
    )


_register(
    "lineitem_donchian_halo",
    Query(
        spark=_li_donchian_halo,
        sql=_li_sql(
            f"""t AS (
  SELECT symbol, seq,
    {_gated('max(high)', 'high', 50, _ws(50, False, order=LINEITEM_ORDER))} AS up,
    {_gated('min(low)', 'low', 50, _ws(50, False, order=LINEITEM_ORDER))} AS lo
  FROM prices
)
SELECT symbol, seq,
  {_r('up', 'donchian_upper_50')},
  {_r('lo', 'donchian_lower_50')},
  {_r('(up + lo)/2', 'donchian_mid_50')}
FROM t"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# Cumulative family, distributed: vwap via bucketed global cumsum
# --------------------------------------------------------------------- #


def _vwap_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same values as the faithful ``vwap`` (same global-window oracle),
    computed with scale.global_cum_sum: per-bucket running sums + a
    broadcast prefix of ≤buckets bucket totals — the cumulative family's
    scale path (no single-task unbounded window).  Compared in signed-log
    domain because bucketed summation legitimately reassociates doubles
    (≈1e-12 relative); a unit test pins the equivalence tolerance."""
    from ..kernels import safe_div
    from ..scale import global_cum_sum
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir).withColumns(
        {
            "_tpv": (F.col("high") + F.col("low") + F.col("close"))
            / 3
            * F.col("volume"),
            "_bkey": F.unix_timestamp("timestamp"),
        }
    )
    c = global_cum_sum(
        p, ["_tpv", "volume"], ("timestamp", "seq"), buckets=32, bucket_by="_bkey"
    )
    vwap = safe_div(F.col("_cum__tpv"), F.col("_cum_volume"))
    return c.select("symbol", "seq", round4(slog(vwap)).alias("vwap"))


_register(
    "vwap_chunked",
    Query(
        spark=_vwap_chunked,
        sql=_sql(
            f"""t AS (
  SELECT symbol, seq,
    sum((high + low + close)/3 * volume) OVER {_wcum(False)} AS num,
    sum(volume) OVER {_wcum(False)} AS den
  FROM prices
)
SELECT symbol, seq,
  {_r('sign(num / NULLIF(den, 0)) * ln(1 + abs(num / NULLIF(den, 0)))', 'vwap')}
FROM t"""
        ),
    ),
)


def _video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.video_frame_sample(docs, stride=5)


# Oracle replays the fake container parse relationally: frame count =
# ceil-less bytes//32 (min 1), every 5th frame, pts at 25 fps.
_register(
    "multimodal_video_frames",
    Query(
        spark=_video_frames,
        sql=f"""
WITH d AS (
  SELECT doc_id,
    greatest(octet_length(encode(text)) // {multimodal.VIDEO_FRAME_BYTES}, 1) AS nf
  FROM documents
),
fr AS (
  SELECT doc_id, CAST(t.f AS INT) AS frame_idx
  FROM d, unnest(range(0, nf, 5)) AS t(f)
)
SELECT doc_id, frame_idx,
  CAST(frame_idx * 1000 // {multimodal.VIDEO_FPS} AS BIGINT) AS pts_ms,
  CAST(frame_idx * {multimodal.VIDEO_FRAME_BYTES} AS BIGINT) AS byte_offset
FROM fr""",
    ),
)


def _resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    out = multimodal.resize_image(
        docs.select("doc_id", "payload"), target_width=64, target_height=64
    )
    # verify the transformed payload itself (md5), not just metadata
    return out.select(
        "doc_id", "out_width", "out_height", "out_bytes", F.md5("payload").alias("fp")
    )


# Oracle rebuilds the byte-budget transform relationally: payload = utf-8
# text repeated to ceil(12288/len) and truncated to 12288 bytes.
# greatest(n, 1) mirrors the Spark side's max(len(payload), 1) so empty
# documents hash identically (md5 of b'').  NOTE: substr/repeat count
# *characters* while resize_image truncates *bytes* — identical only for
# ASCII corpora (this DuckDB's md5/substr have no BLOB overloads, so a
# byte-exact oracle is not expressible; the seed-42 testdata is ASCII).
_register(
    "multimodal_resize",
    Query(
        spark=_resize_meta,
        sql="""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
)
SELECT doc_id,
  CAST(64 AS INT) AS out_width, CAST(64 AS INT) AS out_height,
  CAST(CASE WHEN n = 0 THEN 0 ELSE 12288 END AS BIGINT) AS out_bytes,
  md5(substr(repeat(text, CAST(ceil(12288.0 / greatest(n, 1)) AS INT)), 1, 12288)) AS fp
FROM d""",
    ),
)


_register(
    "split_train_val_test",
    Query(
        spark=lambda s, d: sampling.train_val_test_split(
            load_table(s, d, "documents"), "doc_id"
        ).select("doc_id", "split"),
        sql=f"""
SELECT doc_id,
  CASE WHEN {sampling.bucket_sql('doc_id', 'split42')} < 1000 THEN 'val'
       WHEN {sampling.bucket_sql('doc_id', 'split42')} < 2000 THEN 'test'
       ELSE 'train' END AS split
FROM documents""",
    ),
)


# --------------------------------------------------------------------- #
# Event funnel (signup → click → purchase, time-ordered per user)
# --------------------------------------------------------------------- #


def _funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic ordered-funnel conversion counts: users whose first signup
    precedes a click that precedes a purchase.  Stage frames are skinny
    per-user min-timestamps (groupBy aggs), chained with hash joins —
    event rows never join event rows directly, so no stage is quadratic
    and the heaviest shuffle carries (user_id, ts) pairs only."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    out = [
        s1.agg(F.lit(1).alias("stage"), F.count(F.lit(1)).alias("users")),
        s2.agg(F.lit(2).alias("stage"), F.count(F.lit(1)).alias("users")),
        s3.agg(F.lit(3).alias("stage"), F.count(F.lit(1)).alias("users")),
    ]
    res = out[0].unionByName(out[1]).unionByName(out[2])
    return res.select(F.col("stage").cast("long").alias("stage"), "users")


_register(
    "events_funnel",
    Query(
        spark=_funnel,
        sql="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts >= s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts >= s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST(1 AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS users FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT) FROM s3""",
    ),
)


# --------------------------------------------------------------------- #
# Cohort retention (weekly signup cohorts × activity-week offsets)
# --------------------------------------------------------------------- #


def _cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-seen week,
    counted once per (cohort, week-offset) they were active in.

    Scale shape: first-seen is one per-user min (skinny agg); the join
    back to events carries (user, cohort-week) ints; the final distinct
    count is a two-key agg.  Week arithmetic is integer epoch-division —
    identical on both engines, no calendar functions with locale rules."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.unix_timestamp("ts") / 604800).alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(first, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("users"))
        .select(
            F.col("cohort_wk").cast("long").alias("cohort_wk"),
            F.col("week_offset").cast("long").alias("week_offset"),
            F.col("users").cast("long").alias("users"),
        )
    )


_register(
    "events_cohort_retention",
    Query(
        spark=_cohort_retention,
        sql="""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM events
),
first AS (
  SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id
)
SELECT CAST(f.cohort_wk AS BIGINT) AS cohort_wk,
  CAST(e.wk - f.cohort_wk AS BIGINT) AS week_offset,
  CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
FROM e JOIN first f ON f.user_id = e.user_id
GROUP BY 1, 2""",
    ),
)


def _obv_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same values as the faithful ``obv`` (same oracle), with BOTH serial
    stages distributed: the global lag via ``halo_lag`` and the global
    running sum via ``global_cum_sum`` — the full cumulative-operator
    recipe (shift → transform → cumsum) with no single-task stage.  One
    shared bounds scan feeds both kernels.  The increments are
    integer-valued doubles (±volume), so bucketed summation is EXACT
    (< 2⁵³) and the compare needs no signed-log domain."""
    from ..kernels import when_nullsafe
    from ..scale import global_cum_sum, halo_lag
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir).withColumn(
        "_bkey", F.unix_timestamp("timestamp")
    )
    lo, hi = p.agg(
        F.min("_bkey").cast("double"), F.max("_bkey").cast("double")
    ).first()
    lagged = halo_lag(
        p, "close", 1, ("timestamp", "seq"), buckets=32, out="_prev",
        bucket_by="_bkey", bounds=(lo, hi),
    )
    diff = F.col("close") - F.col("_prev")
    g = lagged.withColumn(
        "_chg",
        F.when(diff.isNull(), F.lit(None).cast("double")).otherwise(
            F.signum(diff) * F.col("volume")
        ),
    )
    c = global_cum_sum(
        g, ["_chg"], ("timestamp", "seq"), buckets=32, bucket_by="_bkey",
        bounds=(lo, hi),
    )
    return c.select("symbol", "seq", round4(F.col("_cum__chg")).alias("obv"))


_register(
    "obv_chunked",
    Query(
        spark=_obv_chunked,
        sql=_sql(
            f"""d AS (
  SELECT symbol, seq, "timestamp", volume,
    close - lag(close) OVER {_word(False)} AS df
  FROM prices
),
o AS (
  SELECT symbol, seq, "timestamp",
    (CASE WHEN df IS NULL THEN NULL
          WHEN df > 0 THEN 1.0 WHEN df < 0 THEN -1.0 ELSE 0.0 END) * volume AS chg
  FROM d
)
SELECT symbol, seq, {_r(f'sum(chg) OVER {_wcum(False)}', 'obv')} FROM o"""
        ),
    ),
)


def _time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion-lag stats: exact median / p90 seconds
    from a user's first signup to their first subsequent purchase.
    Skinny per-user aggregates, one tiny final percentile row."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    # cast-to-double keeps the microsecond fraction (unix_timestamp truncates)
    lag = F.col("t2").cast("double") - F.col("t1").cast("double")
    return p.select(lag.alias("lag_s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        round4(F.percentile("lag_s", F.lit(0.5))).alias("median_s"),
        round4(F.percentile("lag_s", F.lit(0.9))).alias("p90_s"),
    )


_register(
    "events_time_to_convert",
    Query(
        spark=_time_to_convert,
        sql="""
WITH s AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t2, min(s.t1) AS t1
  FROM events e JOIN s ON s.user_id = e.user_id AND e.ts >= s.t1
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
lags AS (
  SELECT CAST(epoch(t2) - epoch(t1) AS DOUBLE) AS lag_s FROM p
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
  floor(quantile_cont(lag_s, 0.5) * 1e4 + 0.500000001) / 1e4 AS median_s,
  floor(quantile_cont(lag_s, 0.9) * 1e4 + 0.500000001) / 1e4 AS p90_s
FROM lags""",
    ),
)
