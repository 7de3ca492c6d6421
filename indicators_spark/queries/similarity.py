"""Similarity family: embedding search and selection — binary
quantisation and Hamming kNN, Matryoshka truncation distortion, IVF
search (lowest-id, trained and maintained-index quantizers) and its
recall audits, k-center selection, MMR diversification, and the
prototype-distance (SSL) filter.

Every approximation here is deterministic (fixed seeds, quantized
centroids, id tie-breaks), so each query carries a full value-hash
DuckDB oracle rather than a recall band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity
from ..sources.prices import load_table
from ._base import EMB_DIM, Query, _dot_sql, _emb, _norm_sql, _r, _register, round4
from .ext import _KNN_IVF_SQL
from .pipeline import _KM_ITERS, _KM_K, _km_qv, _km_round, _km_sqd


# --------------------------------------------------------------------- #
# Binary (sign-bit) embedding quantization + Hamming ANN
# --------------------------------------------------------------------- #

WORD_BITS = 32
_N_WORDS = EMB_DIM // WORD_BITS


def _bincode_sql(vec: str, w: int) -> str:
    """One packed sign-bit word (SQL mirror of ``binary_code_words``)."""
    terms = " + ".join(
        f"CASE WHEN CAST({vec}[{w * WORD_BITS + j + 1}] AS DOUBLE) >= 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(WORD_BITS)
    )
    return f"CASE WHEN {vec} IS NOT NULL THEN CAST({terms} AS BIGINT) END"


_register(
    "embedding_binary_quantize",
    Query(
        spark=lambda s, d: similarity.binary_quantize(
            _emb(s, d), dim=EMB_DIM, word_bits=WORD_BITS
        ),
        sql="SELECT vec_id, "
        + ", ".join(
            f"{_bincode_sql('embedding', w)} AS code_{w}"
            for w in range(_N_WORDS)
        )
        + " FROM embeddings",
    ),
)

_register(
    "similarity_knn_hamming",
    Query(
        spark=lambda s, d: similarity.knn_hamming(
            _emb(s, d),
            _emb(s, d).filter(F.col("vec_id") < 10),
            k=5,
            dim=EMB_DIM,
            word_bits=WORD_BITS,
        ),
        sql=f"""
WITH craw AS (
  SELECT vec_id,
    {', '.join(f"{_bincode_sql('embedding', w)} AS c{w}" for w in range(_N_WORDS))}
  FROM embeddings
),
c AS (
  -- NULL-embedding rows have no code and are dropped from both sides
  -- (mirrors knn_hamming's NULL contract; Spark would sort NULLs first)
  SELECT * FROM craw WHERE c0 IS NOT NULL
),
q AS (
  SELECT vec_id AS qid,
    {', '.join(f'c{w} AS q{w}' for w in range(_N_WORDS))}
  FROM c WHERE vec_id < 10
),
scored AS (
  SELECT q.qid, c.vec_id AS nid,
    {' + '.join(f'bit_count(xor(c.c{w}, q.q{w}))' for w in range(_N_WORDS))}
      AS hamming
  FROM c CROSS JOIN q
  WHERE c.vec_id != q.qid
),
ranked AS (
  SELECT qid, nid, hamming,
    row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, CAST(hamming AS BIGINT) AS hamming
FROM ranked WHERE rank <= 5""",
    ),
)


# --------------------------------------------------------------------- #
# Matryoshka prefix-truncation distortion profile
# --------------------------------------------------------------------- #

MRL_DIMS = (8, 16, 32)


def _dot_m(a: str, b: str, m: int) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, m + 1)
    )


def _norm_m(a: str, m: int) -> str:
    return (
        "sqrt("
        + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
            for i in range(1, m + 1)
        )
        + ")"
    )


def _mrl_cos(m: int) -> str:
    return (
        f"({_dot_m('a.embedding', 'b.embedding', m)})"
        f" / nullif(({_norm_m('a.embedding', m)})"
        f" * ({_norm_m('b.embedding', m)}), 0)"
    )


_MRL_SQL = f"""
WITH pairs AS (
  SELECT {_mrl_cos(EMB_DIM)} AS full_cos,
    {', '.join(f'{_mrl_cos(m)} AS c{m}' for m in MRL_DIMS)}
  FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
),
ok AS (
  SELECT * FROM pairs
  WHERE full_cos IS NOT NULL
    AND {' AND '.join(f'c{m} IS NOT NULL' for m in MRL_DIMS)}
),
errs AS (
  {' UNION ALL '.join(
      f"SELECT CAST({m} AS INT) AS prefix_dim, c{m} - full_cos AS err FROM ok"
      for m in MRL_DIMS
  )}
)
SELECT prefix_dim, CAST(count(*) AS BIGINT) AS n_pairs,
  {_r('avg(abs(err))', 'mae')},
  {_r('sqrt(avg(err * err))', 'rmse')}
FROM errs GROUP BY prefix_dim"""

_register(
    "embedding_matryoshka_distortion",
    Query(
        spark=lambda s, d: similarity.matryoshka_distortion(
            _emb(s, d), dims=MRL_DIMS, full_dim=EMB_DIM
        ).select(
            "prefix_dim",
            "n_pairs",
            round4(F.col("mae")).alias("mae"),
            round4(F.col("rmse")).alias("rmse"),
        ),
        sql=_MRL_SQL,
    ),
)


# --------------------------------------------------------------------- #
# SSL-prototypes pruning (Sorscher et al. 2022) and CCNet perplexity
# buckets (Wenzek et al. 2020) — the two canonical model-light data-
# selection passes: prune what k-means finds redundant, tier what the
# corpus LM finds (un)surprising.
# --------------------------------------------------------------------- #

SSL_PRUNE_FRAC = 0.25


def _ssl_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import similarity

    out = similarity.ssl_prototypes(
        load_table(spark, sf_dir, "embeddings"),
        k=_KM_K,
        iters=_KM_ITERS,
        prune_frac=SSL_PRUNE_FRAC,
    )
    return out.select(
        "vec_id",
        "cluster",
        "sq_dist",
        F.col("keep").cast("long").alias("keep"),
    )


def _ssl_sql() -> str:
    rounds = ",".join(
        _km_round(f"c{i - 1}" if i > 1 else "c0", i)
        for i in range(1, _KM_ITERS + 1)
    )
    fin = _KM_ITERS + 1

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    return f"""
WITH c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, {_km_qv('embedding')} AS cvec
  FROM embeddings WHERE vec_id < {_KM_K}
),{rounds},
s{fin} AS (
  SELECT e.vec_id, c.cid, {_km_sqd('e.embedding', 'c.cvec')} AS d
  FROM embeddings e CROSS JOIN c{_KM_ITERS} c
),
a AS (
  SELECT vec_id, cid AS cluster, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM s{fin}
  ) WHERE rn = 1
),
thr AS (
  SELECT cluster,
    {q4(f'quantile_cont(d, {SSL_PRUNE_FRAC})')} AS t
  FROM a GROUP BY cluster
)
SELECT a.vec_id, a.cluster, {q4('a.d')} AS sq_dist,
  CAST({q4('a.d')} > t.t AS BIGINT) AS keep
FROM a JOIN thr t USING (cluster)"""


_register(
    "filter_ssl_prototypes", Query(spark=_ssl_spark, sql=_ssl_sql())
)


# --------------------------------------------------------------------- #
# IVF recall audit: exact top-k vs the IVF scale path — the ANN sibling
# of dedup_lsh_recall (the approximation's QUALITY, not just its output,
# under the value hash).
# --------------------------------------------------------------------- #

IVF_AUDIT_K, IVF_AUDIT_NC, IVF_AUDIT_NPROBE = 5, 16, 4


def _ivf_recall_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of `knn_ivf` against brute force on the same
    deterministic config the standalone queries use.  Both sides are
    existing operators; the audit is two semi-join counts — at 100 TB
    you run it on a sampled query set, the shape is unchanged."""
    from ..functions import similarity

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.knn_bruteforce(emb, q, k=IVF_AUDIT_K).select(
        "qid", "nid"
    )
    ivf = similarity.knn_ivf(
        emb, q, k=IVF_AUDIT_K, n_centroids=IVF_AUDIT_NC, nprobe=IVF_AUDIT_NPROBE
    ).select("qid", "nid")
    hits = (
        exact.join(ivf, ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.floor(
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.col("k").cast("double")
                    * 1e4
                    + F.lit(0.500000001)
                )
                / 1e4
            ).alias("recall"),
        )
    )


def _ivf_recall_sql() -> str:
    k, nc, npr = IVF_AUDIT_K, IVF_AUDIT_NC, IVF_AUDIT_NPROBE
    return f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n WHERE vec_id < 10
),
es AS (
  SELECT q.qid, n.vec_id AS nid,
    ({_dot_sql('q.qv', 'n.embedding')}) / (q.qn * n.nn) AS cos
  FROM n CROSS JOIN q WHERE n.vec_id != q.qid
),
er AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
    FROM es
  ) WHERE rank <= {k}
),
c AS (
  SELECT vec_id AS cid, embedding AS cv, nn AS cn FROM n
  WHERE vec_id < {nc}
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
probe AS (
  SELECT q.qid, q.qv, q.qn, c.cid,
    row_number() OVER (
      PARTITION BY q.qid
      ORDER BY ({_dot_sql('q.qv', 'c.cv')}) / (q.qn * c.cn) DESC, c.cid
    ) AS rk
  FROM q CROSS JOIN c
),
p AS (SELECT qid, qv, qn, cid FROM probe WHERE rk <= {npr}),
ivs AS (
  SELECT p.qid, a.nid,
    ({_dot_sql('p.qv', 'a.nv')}) / (p.qn * a.nn) AS cos
  FROM a JOIN p USING (cid) WHERE a.nid != p.qid
),
ir AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
    FROM ivs
  ) WHERE rank <= {k}
),
kk AS (SELECT qid, count(*) AS k FROM er GROUP BY qid),
hits AS (
  SELECT er.qid, count(*) AS n_hit
  FROM er JOIN ir ON er.qid = ir.qid AND er.nid = ir.nid
  GROUP BY er.qid
)
SELECT kk.qid, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
  floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / kk.k * 1e4 + 0.500000001)
    / 1e4 AS recall
FROM kk LEFT JOIN hits h USING (qid)"""


_register(
    "similarity_ivf_recall",
    Query(spark=_ivf_recall_spark, sql=_ivf_recall_sql()),
)


# --------------------------------------------------------------------- #
# MMR diversified top-k (Carbonell & Goldstein 1998)
# --------------------------------------------------------------------- #

MMR_K, MMR_C, MMR_LAM = 5, 10, 0.7


def _mmr_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import similarity

    emb = _emb(spark, sf_dir)
    # grouped fast path (one applyInPandas stage); bit-equal to the
    # relational mmr_rerank the oracle replays — pinned in
    # tests/test_ssl_ccnet.py::test_mmr_grouped_bit_equals_relational
    return similarity.mmr_rerank_grouped(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=MMR_K,
        n_candidates=MMR_C,
        lam=MMR_LAM,
    )


def _mmr_sql() -> str:
    lam, oml = repr(MMR_LAM), repr(1.0 - MMR_LAM)
    steps, picks = [], ["s1"]
    for t in range(2, MMR_K + 1):
        prev = f"sel{t - 1}"
        sc = f"{lam} * r.rel - {oml} * m.ms"
        steps.append(
            f""",
rem{t} AS (
  SELECT c.* FROM cand c
  LEFT JOIN {prev} s ON c.qid = s.qid AND c.nid = s.nid
  WHERE s.nid IS NULL
),
ms{t} AS (
  SELECT m.qid, m.na AS nid, max(m.sim) AS ms
  FROM sims m JOIN {prev} s ON m.qid = s.qid AND m.nb = s.nid
  GROUP BY 1, 2
),
p{t} AS (
  SELECT qid, nid, {t} AS mmr_rank, sc AS score FROM (
    SELECT r.qid, r.nid, {sc} AS sc,
      row_number() OVER (
        PARTITION BY r.qid ORDER BY ({sc}) DESC, r.nid) AS rn
    FROM rem{t} r JOIN ms{t} m ON r.qid = m.qid AND r.nid = m.nid
  ) WHERE rn = 1
),
sel{t} AS (SELECT qid, nid FROM {prev} UNION ALL SELECT qid, nid FROM p{t})"""
        )
        picks.append(f"p{t}")
    allp = " UNION ALL ".join(f"SELECT * FROM {p}" for p in picks)
    # norm > 0 mirrors the zero-norm exclusion both Spark paths apply
    # upstream of the candidate pass (ADVICE r7: degenerate embeddings
    # must not diverge the grouped fast path from this oracle)
    return f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn
  FROM embeddings WHERE ({_norm_sql('embedding')}) > 0
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n WHERE vec_id < 10
),
es AS (
  SELECT q.qid, n.vec_id AS nid,
    ({_dot_sql('q.qv', 'n.embedding')}) / (q.qn * n.nn) AS cos
  FROM n CROSS JOIN q WHERE n.vec_id != q.qid
),
cand AS (
  SELECT qid, nid, cos AS rel FROM (
    SELECT qid, nid, cos,
      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
    FROM es
  ) WHERE rank <= {MMR_C}
),
cv AS (
  SELECT c.qid, c.nid, c.rel, n.embedding AS v, n.nn
  FROM cand c JOIN n ON n.vec_id = c.nid
),
sims AS (
  SELECT a.qid, a.nid AS na, b.nid AS nb,
    ({_dot_sql('a.v', 'b.v')}) / (a.nn * b.nn) AS sim
  FROM cv a JOIN cv b ON a.qid = b.qid AND a.nid != b.nid
),
s1 AS (
  SELECT qid, nid, 1 AS mmr_rank, rel AS score FROM (
    SELECT qid, nid, rel,
      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
    FROM cand
  ) WHERE rn = 1
),
sel1 AS (SELECT qid, nid FROM s1){"".join(steps)}
SELECT qid, nid, CAST(mmr_rank AS BIGINT) AS mmr_rank,
  floor(score * 1e4 + 0.500000001) / 1e4 AS score
FROM ({allp})"""


_register(
    "similarity_mmr_topk",
    Query(spark=_mmr_spark, sql=_mmr_sql()),
)


# --------------------------------------------------------------------- #
# k-center greedy selection (Gonzalez).  tests/test_kcenter.py runs the
# full value-hash-style compare locally.
# --------------------------------------------------------------------- #

KC_K = 6


def _kcenter_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import similarity

    return similarity.kcenter_select(_emb(spark, sf_dir), k=KC_K)


#: embedding dimension of the testdata `embeddings` table — the oracle
#: unrolls the distance chain per index, so it needs the width (the
#: Spark side's zip_with is dimension-agnostic).  Kept kcenter-local
#: rather than borrowing the k-means pipeline's constant so the two
#: operators' oracles can't silently couple (ADVICE-style reuse trap).
KC_DIM = 64


def _kc_sqd(a: str, b: str, dim: int) -> str:
    """Fold-exact ``0.0 + (a[i]-b[i])² + …`` chain — the SQL twin of
    ``similarity._sq_dist`` at an explicit width."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return f"0.0 + {terms}"


def _kcenter_sql(k: int = KC_K, dim: int = KC_DIM) -> str:
    """Unrolled-CTE replay of the greedy trajectory (the MMR/Lloyd
    recipe): step t takes the argmax of the 4dp-quantized least
    squared-distance to the t−1 single-row center CTEs over the
    NOT-YET-SELECTED pool, ties to the lowest id.  Mirrors the operator
    exactly: NULL embeddings excluded up front, chosen ids excluded
    from each step's candidates."""

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    ctes = [
        """e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
c1 AS (
  SELECT vec_id, embedding FROM e0
  WHERE vec_id = (SELECT min(vec_id) FROM e0)
)"""
    ]
    rows = ["SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1"]
    for t in range(2, k + 1):
        prior = [f"c{i}" for i in range(1, t)]
        dists = [_kc_sqd("e.embedding", f"{c}.embedding", dim) for c in prior]
        mind = dists[0] if len(dists) == 1 else (
            "least(" + ", ".join(f"({d})" for d in dists) + ")"
        )
        not_picked = " AND ".join(f"e.vec_id != {c}.vec_id" for c in prior)
        ctes.append(
            f"""m{t} AS (
  SELECT e.vec_id, e.embedding, {q4(mind)} AS q
  FROM e0 e, {', '.join(prior)}
  WHERE {not_picked}
),
c{t} AS (
  SELECT vec_id, embedding, q FROM m{t} ORDER BY q DESC, vec_id LIMIT 1
)"""
        )
        rows.append(
            f"SELECT CAST({t} AS BIGINT) AS rank, vec_id, q AS radius FROM c{t}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(rows)


_register(
    "similarity_kcenter_select",
    Query(spark=_kcenter_spark, sql=_kcenter_sql()),
)


# --------------------------------------------------------------------- #
# k-center greedy, CARRY form.  The registered
# `similarity_kcenter_select` (k=6) runs the literal-chain form; the
# `carry_min=True` dispatch arm (similarity.py `kcenter_select`,
# O(k·n·d) via per-superstep localCheckpoint of the running min) is
# pinned bit-identical locally (tests/test_kcenter.py) but has never
# produced driver evidence.  This twin runs k=10 with carry_min forced
# on, against the SAME unrolled-CTE oracle shape at the larger k — the
# `lineitem_rsi_halo` precedent: a second registered query whose only
# purpose is driver evidence for the other dispatch arm.  k=10 also sits
# ABOVE the auto-dispatch point (KCENTER_CARRY_K = 8), so the registered
# row exercises exactly the arm a defaulting caller would get at that k.
# --------------------------------------------------------------------- #

KC_CARRY_K = 10


def _kcenter_carry_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import similarity

    return similarity.kcenter_select(
        _emb(spark, sf_dir), k=KC_CARRY_K, carry_min=True
    )


def _kcenter_carry_sql(k: int = KC_CARRY_K) -> str:
    # the oracle replays the greedy TRAJECTORY, which both forms produce
    # bit-identically (min associativity over the same fold-exact
    # doubles — pinned in test_kcenter.py), so the k=6 generator is
    # reused verbatim at k=10
    return _kcenter_sql(k=k)


_register(
    "similarity_kcenter_carry",
    Query(spark=_kcenter_carry_spark, sql=_kcenter_carry_sql()),
)


# --------------------------------------------------------------------- #
# IVF search THROUGH a maintained index.  Driver
# evidence for `similarity.knn_ivf_from_index` (the query-time consumer
# of the streaming `IvfIndexIngestSink`): the index is materialized
# batch-side via the shared `ivf_assign_cells` (exactly what the sink
# lands per epoch), then the search runs off the skinny (id, cid, norm)
# map with vectors joined back by id.  Output is DEFINED bit-identical
# to `knn_ivf` at the same (k, nprobe) — the probe and re-rank are the
# same `_ivf_search` expressions — so the oracle is the registered
# sibling's relational IVF replay verbatim (the `lineitem_rsi_halo`
# twin-row precedent: a second registered query whose purpose is the
# other execution strategy).
# --------------------------------------------------------------------- #


def _knn_ivf_from_index_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions import similarity

    emb = _emb(spark, sf_dir)
    cents = similarity.ivf_centroids(emb, 16)
    index = similarity.ivf_assign_cells(emb, cents).select(
        F.col("nid").alias("vec_id"),
        "cid",
        F.col("nn").alias("norm"),
    )
    return similarity.knn_ivf_from_index(
        emb,
        index,
        emb.filter(F.col("vec_id") < 10),
        cents,
        k=5,
        nprobe=4,
    ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos"))


_register(
    "similarity_knn_ivf_index",
    Query(spark=_knn_ivf_from_index_spark, sql=_KNN_IVF_SQL),
)


# --------------------------------------------------------------------- #
# IVF search whose coarse quantizer is TRAINED Lloyd k-means centers
# (``similarity.kmeans_centers``, the ``kmeans_train_assign`` machinery)
# instead of the lowest-id stand-in: the composition a production 100 TB
# index runs.  The oracles replay Lloyd → cosine cell assign → probe →
# exact re-rank in one statement; the recall audit and the two-epoch
# index lifecycle (``knn_ivf_from_index`` over earlier-wins min-epoch
# cells, the ``IvfIndexIngestSink`` ledger rule) reuse that skeleton.
# --------------------------------------------------------------------- #

#: trained-IVF config: quantizer = the green kmeans_train_assign
#: training (k=8, 2 Lloyd rounds); 3-cell probe, top-5.
IVF_TR_K, IVF_TR_NPROBE = 5, 3


#: epoch-lifecycle batch split: batch 1 = vec_id < 300 (epoch 1),
#: batch 2 = vec_id >= 200 (epoch 2) — ids 200–299 land in BOTH
#: epochs, so the earlier-wins reduction is genuinely exercised, and
#: the union covers every id at any SF ≥ the smallest test fixture.
EPOCH_B1_HI, EPOCH_B2_LO = 300, 200


def _trained_cents_ctes() -> str:
    """CTE chain ``c0, …, c{iters}`` producing the trained quantizer —
    the exact Lloyd replay the green ``kmeans_train_assign`` oracle
    runs (same quantization, same lowest-id init, same per-dimension
    means), reused verbatim from the pipeline family."""
    rounds = ",".join(
        _km_round(f"c{i - 1}" if i > 1 else "c0", i)
        for i in range(1, _KM_ITERS + 1)
    )
    return f"""c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, {_km_qv('embedding')} AS cvec
  FROM embeddings WHERE vec_id < {_KM_K}
),{rounds}"""


def _ivf_trained_search_sql(select_clause: str) -> str:
    """Shared oracle skeleton: trained centers → cosine cell assign →
    probe → exact re-rank (the ``similarity_knn_ivf`` replay with the
    trained-centroid CTEs in place of the lowest-id stand-in)."""
    return f"""
WITH {_trained_cents_ctes()},
cc AS (
  SELECT cid, cvec, {_norm_sql('cvec')} AS cn FROM c{_KM_ITERS}
),
n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
assign AS (
  SELECT n.vec_id AS nid, n.embedding AS nv, n.nn, cc.cid,
    row_number() OVER (
      PARTITION BY n.vec_id
      ORDER BY ({_dot_sql('n.embedding', 'cc.cvec')}) / (n.nn * cc.cn)
        DESC, cc.cid
    ) AS rk
  FROM n CROSS JOIN cc
),
a AS (SELECT nid, nv, nn, cid FROM assign WHERE rk = 1),
q AS (SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n
      WHERE vec_id < 10),
probe AS (
  SELECT q.qid, q.qv, q.qn, cc.cid,
    row_number() OVER (
      PARTITION BY q.qid
      ORDER BY ({_dot_sql('q.qv', 'cc.cvec')}) / (q.qn * cc.cn)
        DESC, cc.cid
    ) AS rk
  FROM q CROSS JOIN cc
),
p AS (SELECT qid, qv, qn, cid FROM probe WHERE rk <= {IVF_TR_NPROBE}),
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
{select_clause}"""


def _knn_ivf_trained_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions import similarity

    emb = _emb(spark, sf_dir)
    return similarity.knn_ivf_trained(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=IVF_TR_K,
        n_centroids=_KM_K,
        iters=_KM_ITERS,
        nprobe=IVF_TR_NPROBE,
    ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos"))


def _knn_ivf_trained_sql() -> str:
    return _ivf_trained_search_sql(
        f"SELECT qid, nid, rank, {_r('cos', 'cos')} FROM ranked "
        f"WHERE rank <= {IVF_TR_K}"
    )


_register(
    "similarity_knn_ivf_trained",
    Query(spark=_knn_ivf_trained_spark, sql=_knn_ivf_trained_sql()),
)


def _ivf_recall_trained_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the TRAINED-quantizer IVF against brute
    force — the audit `similarity_ivf_recall` runs for the stand-in
    cells, now at the cells a production index would use."""
    from pyspark.sql import functions as F

    from ..functions import similarity

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.knn_bruteforce(emb, q, k=IVF_TR_K).select("qid", "nid")
    ivf = similarity.knn_ivf_trained(
        emb, q, k=IVF_TR_K, n_centroids=_KM_K, iters=_KM_ITERS,
        nprobe=IVF_TR_NPROBE,
    ).select("qid", "nid")
    hits = (
        exact.join(ivf, ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k"))
    return base.join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        (
            F.floor(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / F.col("k").cast("double")
                * 1e4
                + F.lit(0.500000001)
            )
            / 1e4
        ).alias("recall"),
    )


def _ivf_recall_trained_sql() -> str:
    ivf_part = _ivf_trained_search_sql(
        f"SELECT qid, nid FROM ranked WHERE rank <= {IVF_TR_K}"
    )
    return f"""
WITH ir AS (SELECT * FROM ({ivf_part}) ivf_t),
n2 AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
q2 AS (SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n2
       WHERE vec_id < 10),
es AS (
  SELECT q2.qid, n2.vec_id AS nid,
    ({_dot_sql('q2.qv', 'n2.embedding')}) / (q2.qn * n2.nn) AS cos
  FROM n2 CROSS JOIN q2 WHERE n2.vec_id != q2.qid
),
er AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
    FROM es
  ) WHERE rank <= {IVF_TR_K}
),
kk AS (SELECT qid, count(*) AS k FROM er GROUP BY qid),
hits AS (
  SELECT er.qid, count(*) AS n_hit
  FROM er JOIN ir ON er.qid = ir.qid AND er.nid = ir.nid
  GROUP BY er.qid
)
SELECT kk.qid, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
  floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / kk.k * 1e4 + 0.500000001)
    / 1e4 AS recall
FROM kk LEFT JOIN hits h USING (qid)"""


_register(
    "similarity_ivf_recall_trained",
    Query(spark=_ivf_recall_trained_spark, sql=_ivf_recall_trained_sql()),
)


def _knn_ivf_epochs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index lifecycle batch-side: two overlapping assignment epochs →
    earlier-wins compaction → search through the compacted index.  The
    reduction is the sink ledger rule (duplicate ids keep their FIRST
    epoch's row); with a frozen quantizer the surviving rows are
    bit-identical to a single-epoch assignment, so the search output is
    DEFINED equal to ``similarity_knn_ivf`` — the lifecycle is what is
    under test.  Scale shape: the ledger is the skinny (id, cid, norm,
    epoch) map; compaction is one groupBy(id) min_by — never vectors."""
    from pyspark.sql import functions as F

    from ..functions import similarity

    emb = _emb(spark, sf_dir)
    cents = similarity.ivf_centroids(emb, 16)
    b1 = similarity.ivf_assign_cells(
        emb.filter(F.col("vec_id") < EPOCH_B1_HI), cents
    ).withColumn("epoch", F.lit(1))
    b2 = similarity.ivf_assign_cells(
        emb.filter(F.col("vec_id") >= EPOCH_B2_LO), cents
    ).withColumn("epoch", F.lit(2))
    ledger = b1.unionByName(b2).select("nid", "cid", "nn", "epoch")
    compacted = ledger.groupBy("nid").agg(
        F.min_by(F.struct("cid", "nn"), "epoch").alias("_w")
    )
    index = compacted.select(
        F.col("nid").alias("vec_id"),
        F.col("_w.cid").alias("cid"),
        F.col("_w.nn").alias("norm"),
    )
    return similarity.knn_ivf_from_index(
        emb,
        index,
        emb.filter(F.col("vec_id") < 10),
        cents,
        k=5,
        nprobe=4,
    ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos"))


def _knn_ivf_epochs_sql() -> str:
    """The ``similarity_knn_ivf`` replay with the assignment routed
    through the two-epoch union + min-epoch reduction — the oracle
    encodes the LIFECYCLE, not just the final search."""
    return f"""
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
      ORDER BY ({_dot_sql('n.embedding', 'c.cv')}) / (n.nn * c.cn)
        DESC, c.cid
    ) AS rk
  FROM n CROSS JOIN c
),
a0 AS (SELECT nid, nv, nn, cid FROM assign WHERE rk = 1),
led AS (
  SELECT nid, cid, nn, 1 AS epoch FROM a0 WHERE nid < {EPOCH_B1_HI}
  UNION ALL
  SELECT nid, cid, nn, 2 AS epoch FROM a0 WHERE nid >= {EPOCH_B2_LO}
),
comp AS (
  SELECT nid, cid, nn FROM (
    SELECT *, row_number() OVER (PARTITION BY nid ORDER BY epoch) AS ern
    FROM led
  ) WHERE ern = 1
),
a AS (
  SELECT comp.nid, n.embedding AS nv, comp.nn, comp.cid
  FROM comp JOIN n ON comp.nid = n.vec_id
),
q AS (SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n
      WHERE vec_id < 10),
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
    "similarity_knn_ivf_epochs",
    Query(spark=_knn_ivf_epochs_spark, sql=_knn_ivf_epochs_sql()),
)
