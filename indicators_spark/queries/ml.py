"""ML-analytics family: embedding/ML analytics (hard-negative
mining, nearest-centroid classification, covariance matrix), tokenizer
statistics (BPE pair counts), corpus mixture weighting, marketing-style
event attribution, key-skew diagnostics, and link-graph PageRank.

Each query pairs a Spark-first implementation with an exact DuckDB
oracle, following the conventions in ``_base`` (boundary-safe
quantizers on every float output, deterministic tie-breaks on every
rank/limit, integer casts on every count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import graph, sampling, similarity, text
from ..sources.prices import load_table
from ._base import (
    EMB_DIM,
    ORDER,
    Query,
    _dot_sql,
    _gated,
    _norm_sql,
    _r,
    _register,
    _sql,
    _word,
    _ws,
    round4,
)
from .ext import _lang_sql, _minhash_ctes
from .pipeline import _km_sqd


def round6(c):
    """1e-6-step variant of :func:`queries.round4` (same boundary-safe
    floor form) for outputs whose natural scale is ≪ 1 (PageRank mass)."""
    c = F.when(~F.isnan(c), c)
    return F.floor(c * 1000000 + F.lit(0.500000001)).cast("double") / 1000000


def _r6(expr: str, alias: str) -> str:
    return (
        f"CAST(floor(({expr}) * 1000000 + 0.500000001) AS DOUBLE)"
        f' / 1000000 AS "{alias}"'
    )


# --------------------------------------------------------------------- #
# Hard-negative mining (contrastive-training companion to near-dup)
# --------------------------------------------------------------------- #

_register(
    "similarity_hard_negatives",
    Query(
        spark=lambda s, d: similarity.knn_hard_negatives(
            load_table(s, d, "embeddings"),
            load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
            k=5,
        ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos")),
        sql=f"""
WITH n AS (
  SELECT vec_id, label, embedding, {_norm_sql('embedding')} AS nn
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, label AS qlabel, embedding AS qv, nn AS qn
  FROM n WHERE vec_id < 10
),
scored AS (
  SELECT q.qid, n.vec_id AS nid,
    ({_dot_sql('q.qv', 'n.embedding')}) / (q.qn * n.nn) AS cos
  FROM n CROSS JOIN q
  WHERE n.label != q.qlabel
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, {_r('cos', 'cos')} FROM ranked WHERE rank <= 5""",
    ),
)


# --------------------------------------------------------------------- #
# Nearest-centroid classification (label-coherence audit)
# --------------------------------------------------------------------- #

_CC_Q = "1000000.0"

_register(
    "embedding_centroid_classify",
    Query(
        spark=lambda s, d: similarity.centroid_classify(
            load_table(s, d, "embeddings")
        ),
        sql=f"""
WITH m AS (
  SELECT label, r.pos, avg(CAST(embedding[r.pos] AS DOUBLE)) AS v
  FROM embeddings CROSS JOIN (
    SELECT unnest(range(1, {EMB_DIM + 1})) AS pos) r
  GROUP BY 1, 2
),
c AS (
  SELECT label AS clab,
    list(floor(v * {_CC_Q} + 0.500000001) / {_CC_Q} ORDER BY pos) AS cvec
  FROM m GROUP BY 1
),
s AS (
  SELECT e.vec_id, e.label, c.clab,
    {_km_sqd('e.embedding', 'c.cvec')} AS d
  FROM embeddings e CROSS JOIN c
)
SELECT vec_id, label, assigned FROM (
  SELECT vec_id, label, clab AS assigned,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, clab) AS rn
  FROM s
) WHERE rn = 1""",
    ),
)


# --------------------------------------------------------------------- #
# Covariance matrix (PCA/whitening input) — mapInPandas partial moments
# --------------------------------------------------------------------- #

_register(
    "embedding_covariance",
    Query(
        spark=lambda s, d: similarity.covariance_matrix(
            load_table(s, d, "embeddings"), dim=EMB_DIM
        ).select("i", "j", round6(F.col("cov")).alias("cov")),
        sql=f"""
WITH x AS (
  SELECT vec_id, t.range AS i, CAST(embedding[t.range] AS DOUBLE) AS xi
  FROM embeddings, range(1, {EMB_DIM + 1}) t
),
m AS (SELECT i, avg(xi) AS mi FROM x GROUP BY 1),
p AS (
  SELECT a.i, b.i AS j, avg(a.xi * b.xi) AS exy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
  GROUP BY 1, 2
)
SELECT p.i, p.j, {_r6('p.exy - ma.mi * mb.mi', 'cov')}
FROM p JOIN m ma ON p.i = ma.i JOIN m mb ON p.j = mb.i""",
    ),
)


# --------------------------------------------------------------------- #
# BPE merge statistics (tokenizer-trainer inner loop)
# --------------------------------------------------------------------- #

_register(
    "text_bpe_pairs",
    Query(
        spark=lambda s, d: text.bpe_pair_counts(
            load_table(s, d, "documents"), top_k=30
        ),
        sql="""
WITH w AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
p AS (
  SELECT substr(w, t.range, 2) AS pair
  FROM w, range(1, 64) t
  WHERE len(w) >= 2 AND t.range <= len(w) - 1
),
c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1),
top AS (SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 30)
SELECT row_number() OVER (ORDER BY cnt DESC, pair) AS rank, pair, cnt
FROM top""",
    ),
)


# --------------------------------------------------------------------- #
# Temperature-scaled mixture weights (multilingual sampling recipe)
# --------------------------------------------------------------------- #

_register(
    "mixture_temperature",
    Query(
        spark=lambda s, d: sampling.temperature_mixture(
            load_table(s, d, "documents"), group_col="source", alpha=0.5
        ).select(
            "source",
            "n_docs",
            round4(F.col("natural_share")).alias("natural_share"),
            round4(F.col("weight")).alias("weight"),
            round4(F.col("expected_samples")).alias("expected_samples"),
        ),
        sql=f"""
WITH c AS (
  SELECT source, count(*) AS n FROM documents GROUP BY 1
),
t AS (
  SELECT CAST(sum(n) AS DOUBLE) AS tot_n,
    sum(pow(CAST(n AS DOUBLE), 0.5)) AS tot_t
  FROM c
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
  {_r('n / tot_n', 'natural_share')},
  {_r('pow(CAST(n AS DOUBLE), 0.5) / tot_t', 'weight')},
  {_r('pow(CAST(n AS DOUBLE), 0.5) / tot_t * tot_n', 'expected_samples')}
FROM c, t""",
    ),
)


# --------------------------------------------------------------------- #
# Last-touch attribution (conversion credit to the preceding touchpoint)
# --------------------------------------------------------------------- #


def _attribution_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic last-touch model: every ``purchase`` credits the user's most
    recent prior ``click``/``view``; purchases with no prior touch fall in
    the ``none`` bucket.

    One user-keyed window pass (the exchange on ``user_id`` parallelizes
    across users; per-user state is a single carried value) followed by a
    tiny touch-type groupBy — no event×event self-join, so the plan stays
    linear in events at any scale.  Hot users are bounded by the same
    carry-forward shape sessionization uses."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            round4(F.sum("value")).alias("sum_value"),
        )
    )


_register(
    "events_attribution_last_touch",
    Query(
        spark=_attribution_spark,
        sql=f"""
WITH t AS (
  SELECT event_type, value,
    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT COALESCE(touch, 'none') AS touch_type,
  count(*) AS n_conversions, {_r('sum(value)', 'sum_value')}
FROM t WHERE event_type = 'purchase' GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Key-skew diagnostics (the pre-flight check before any keyed shuffle)
# --------------------------------------------------------------------- #


def _skew_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile of events per user: count quantiles, hot-key
    share, Gini — the numbers that decide whether a join needs salting.

    The expensive pass is the one map-side-combined groupBy; every window
    below runs over the AGGREGATED key table (|keys| rows, not events).
    At extreme key cardinality swap the rank window for
    ``scale.grouped_row_number`` and the exact percentiles for
    ``approx_percentile`` — same output schema."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    rn = F.row_number().over(Window.orderBy("cnt", "user_id"))
    ranked = counts.withColumn("rn", rn)
    top10 = (
        counts.orderBy(F.col("cnt").desc(), "user_id")
        .limit(10)
        .agg(F.sum("cnt").alias("t10"))
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("cnt").alias("s"),
        F.max("cnt").alias("mx"),
        F.percentile(F.col("cnt"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("cnt"), F.lit(0.99)).alias("p99"),
        F.sum(F.col("rn").cast("double") * F.col("cnt")).alias("sic"),
    )
    return agg.crossJoin(top10).select(
        F.col("k").cast("long").alias("n_keys"),
        F.col("mx").cast("long").alias("max_cnt"),
        round4(F.col("p50")).alias("p50_cnt"),
        round4(F.col("p99")).alias("p99_cnt"),
        round4(F.col("t10").cast("double") / F.col("s")).alias("top10_share"),
        round4(
            (F.lit(2.0) * F.col("sic")) / (F.col("k") * F.col("s"))
            - (F.col("k") + F.lit(1.0)) / F.col("k")
        ).alias("gini"),
    )


_register(
    "analytic_key_skew",
    Query(
        spark=_skew_spark,
        sql=f"""
WITH c AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt, user_id) AS rn FROM c
),
tot AS (
  SELECT count(*) AS k, sum(cnt) AS s, max(cnt) AS mx,
    quantile_cont(cnt, 0.5) AS p50, quantile_cont(cnt, 0.99) AS p99
  FROM c
),
top AS (
  SELECT sum(cnt) AS t10 FROM (
    SELECT cnt FROM c ORDER BY cnt DESC, user_id LIMIT 10)
),
g AS (SELECT sum(CAST(rn AS DOUBLE) * cnt) AS sic FROM r)
SELECT CAST(k AS BIGINT) AS n_keys, CAST(mx AS BIGINT) AS max_cnt,
  {_r('p50', 'p50_cnt')}, {_r('p99', 'p99_cnt')},
  {_r('CAST(t10 AS DOUBLE) / s', 'top10_share')},
  {_r('(2.0 * sic) / (k * s) - (k + 1.0) / k', 'gini')}
FROM tot, top, g""",
    ),
)


# --------------------------------------------------------------------- #
# PageRank over the nation trade graph (link-analysis building block)
# --------------------------------------------------------------------- #

_PR_ITERS = 3
_PR_D = 0.85


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation → customer-nation edges weighted by lineitem count.

    The only fact-scale work: lineitem⋈orders (one orderkey hash join —
    co-bucketing removes it, see ``tpch_q21_bucketed``) with every
    dimension broadcast; the output edge list is ≤ |nations|² rows."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("snk"),
                                   F.col("n_name").alias("src"))),
            F.col("s_nationkey") == F.col("snk"),
        )
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("cnk"),
                                   F.col("n_name").alias("dst"))),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _pagerank_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = graph.pagerank(
        _trade_edges(spark, sf_dir), iters=_PR_ITERS, damping=_PR_D, weight="w"
    )
    return ranks.select(
        F.col("node").alias("nation"), round6(F.col("rank")).alias("rank")
    )


def _pr_iter_sql(prev: str, idx: int) -> str:
    return f"""
i{idx} AS (
  SELECT e.dst, sum({prev}.rank * e.frac) AS inflow
  FROM e JOIN {prev} ON e.src = {prev}.node GROUP BY 1
),
r{idx} AS (
  SELECT n.node,
    (1.0 - {_PR_D}) / nn.n + {_PR_D} * COALESCE(i{idx}.inflow, 0.0) AS rank
  FROM nodes n CROSS JOIN nn LEFT JOIN i{idx} ON n.node = i{idx}.dst
)"""


def _pagerank_sql() -> str:
    iters = ",".join(
        _pr_iter_sql(f"r{i - 1}" if i > 1 else "r0", i)
        for i in range(1, _PR_ITERS + 1)
    )
    return f"""
WITH e0 AS (
  SELECT ns.n_name AS src, nc.n_name AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  GROUP BY 1, 2
),
ow AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY 1),
e AS (
  SELECT e0.src, e0.dst, CAST(e0.w AS DOUBLE) / ow.outw AS frac
  FROM e0 JOIN ow ON e0.src = ow.src
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),{iters}
SELECT node AS nation, {_r6('rank', 'rank')} FROM r{_PR_ITERS}"""


_register(
    "graph_pagerank_nations",
    Query(spark=_pagerank_spark, sql=_pagerank_sql()),
)


# --------------------------------------------------------------------- #
# Label propagation (community detection) over the same trade graph
# --------------------------------------------------------------------- #

_LPA_ITERS = 3


def _lpa_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = graph.label_propagation(
        _trade_edges(spark, sf_dir), iters=_LPA_ITERS, weight="w"
    )
    return labels.select(
        F.col("node").alias("nation"), F.col("label").alias("community")
    )


def _lpa_iter_sql(prev: str, idx: int) -> str:
    return f"""
v{idx} AS (
  SELECT eu.v AS n, {prev}.label, sum(eu.w) AS wsum
  FROM eu JOIN {prev} ON eu.u = {prev}.node GROUP BY 1, 2
),
l{idx} AS (
  SELECT n.node, COALESCE(b.label, n.node) AS label
  FROM nodes n LEFT JOIN (
    SELECT n, label FROM (
      SELECT n, label,
        row_number() OVER (PARTITION BY n ORDER BY wsum DESC, label) AS rn
      FROM v{idx}
    ) WHERE rn = 1
  ) b ON n.node = b.n
)"""


def _lpa_sql() -> str:
    iters = ",".join(
        _lpa_iter_sql(f"l{i - 1}" if i > 1 else "l0", i)
        for i in range(1, _LPA_ITERS + 1)
    )
    return f"""
WITH e0 AS (
  SELECT ns.n_name AS src, nc.n_name AS dst, CAST(count(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  GROUP BY 1, 2
),
eu AS (
  SELECT src AS u, dst AS v, w FROM e0
  UNION ALL
  SELECT dst AS u, src AS v, w FROM e0
),
nodes AS (SELECT u AS node FROM eu UNION SELECT v FROM eu),
l0 AS (SELECT node, node AS label FROM nodes),{iters}
SELECT node AS nation, label AS community FROM l{_LPA_ITERS}"""


_register(
    "graph_communities_nations",
    Query(spark=_lpa_spark, sql=_lpa_sql()),
)


# --------------------------------------------------------------------- #
# Column profiler (the data-quality pre-flight over any fact table)
# --------------------------------------------------------------------- #

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _profile_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass-per-column profile of lineitem's numeric columns: row /
    null / distinct counts, min/max/mean.  Runs
    :func:`~indicators_spark.approx.profile_numeric_auto` with defaults,
    which under the no-free-count dispatch contract (r8) pins the EXACT
    `countDistinct` the oracle replays; at 100 TB a caller passes
    ``n_rows`` from catalog stats (or ``min_rows=0``) for HLL
    `approx_count_distinct` — that branch is pinned against this one in
    tests/test_approx.py::test_profile_numeric_auto_paths, and its
    at-scale error band is driver-verified by `stats_hll_audit`.  Same
    output schema either way, and each column's metrics stay ONE
    map-side-combined aggregate."""
    from ..approx import profile_numeric_auto

    li = load_table(spark, sf_dir, "lineitem")
    out = profile_numeric_auto(li, _PROFILE_COLS)
    return out.select(
        "column",
        "n_rows",
        "n_null",
        "n_distinct",
        round4(F.col("min_v")).alias("min_v"),
        round4(F.col("max_v")).alias("max_v"),
        round4(F.col("avg_v")).alias("avg_v"),
    )


_register(
    "profile_lineitem",
    Query(
        spark=_profile_spark,
        sql=" UNION ALL ".join(
            f"""
SELECT '{c}' AS column, count(*) AS n_rows,
  CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  count(DISTINCT {c}) AS n_distinct,
  {_r(f'min({c})', 'min_v')}, {_r(f'max({c})', 'max_v')},
  {_r(f'avg({c})', 'avg_v')}
FROM lineitem"""
            for c in _PROFILE_COLS
        ),
    ),
)


# --------------------------------------------------------------------- #
# Robust (MAD) anomaly detection over hourly event-type counts
# --------------------------------------------------------------------- #


def _anomaly_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event count deviates from their type's median by more
    than 3 robust sigmas (MAD · 1.4826) — the outlier screen that doesn't
    let the outliers poison the baseline (unlike mean/stddev z-scores).

    Both passes run over the AGGREGATED hourly series (|hours|·|types|
    rows), never raw events; medians broadcast back per type.  At 100 TB
    replace the exact `percentile` with `approx_percentile` — identical
    plan shape (this is the same swap note as `analytic_winsorize`)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("etype"),
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("hour_epoch"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    med = hourly.groupBy("etype").agg(
        F.percentile(F.col("cnt"), F.lit(0.5)).alias("med")
    )
    dev = hourly.join(F.broadcast(med), "etype").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy(F.col("etype").alias("_e")).agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    scored = dev.join(
        F.broadcast(mad), dev["etype"] == mad["_e"]
    ).withColumn(
        "rz",
        (F.col("cnt") - F.col("med"))
        / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0)),
    )
    return (
        scored.filter(F.abs(F.col("rz")) > 3.0)
        .select(
            "etype",
            F.col("hour_epoch").cast("long").alias("hour_epoch"),
            F.col("cnt").cast("long").alias("cnt"),
            round4(F.col("rz")).alias("robust_z"),
        )
    )


_register(
    "events_anomaly_mad",
    Query(
        spark=_anomaly_spark,
        sql=f"""
WITH hourly AS (
  SELECT event_type AS etype,
    CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_epoch,
    count(*) AS cnt
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT etype, quantile_cont(cnt, 0.5) AS med FROM hourly GROUP BY 1
),
dev AS (
  SELECT h.*, m.med, abs(h.cnt - m.med) AS adev
  FROM hourly h JOIN med m ON h.etype = m.etype
),
mad AS (
  SELECT etype, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
),
scored AS (
  SELECT d.etype, d.hour_epoch, d.cnt,
    (d.cnt - d.med) / NULLIF(1.4826 * s.mad, 0) AS rz
  FROM dev d JOIN mad s ON d.etype = s.etype
)
SELECT etype, hour_epoch, CAST(cnt AS BIGINT) AS cnt,
  {_r('rz', 'robust_z')}
FROM scored WHERE abs(rz) > 3.0""",
    ),
)


# --------------------------------------------------------------------- #
# Explicit GROUPING SETS (the general form cube/rollup specialize)
# --------------------------------------------------------------------- #


def _grouping_sets_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus,
  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
  count(*) AS n,
  CAST(floor(sum(l_quantity) * 10000 + 0.500000001) AS DOUBLE) / 10000
    AS sum_qty
FROM _gs_lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
    )


_register(
    "grouping_sets_lineitem",
    Query(
        spark=_grouping_sets_spark,
        sql=f"""
SELECT l_returnflag, l_linestatus,
  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
  count(*) AS n, {_r('sum(l_quantity)', 'sum_qty')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
    ),
)


# --------------------------------------------------------------------- #
# Mergeable KMV quantile sketch (compute per day once, roll up any range)
# --------------------------------------------------------------------- #

_KMV_K = 128


def _kmv_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day bottom-k sketches over event values, merged into one
    range-wide sketch, quantiles estimated from the merged sample and
    reported next to the exact values — the quantile companion of
    `stats_hll_rollup`, but EXACTLY oracle-checkable: the bottom-k sample
    is a deterministic function of the data (md5 order), so both engines
    pick the identical sample and interpolate identical estimates."""
    from ..functions.sketches import kmv_bottom_k, kmv_merge

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    )
    daily = kmv_bottom_k(
        ev, value_col="value", key_col="event_id", k=_KMV_K,
        group_cols=("day",),
    )
    merged = kmv_merge(daily, k=_KMV_K)
    est = merged.agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.percentile(F.col("v"), F.lit(0.5)).alias("p50_est"),
        F.percentile(F.col("v"), F.lit(0.9)).alias("p90_est"),
    )
    exact = ev.agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("p50_exact"),
        F.percentile(F.col("value"), F.lit(0.9)).alias("p90_exact"),
    )
    return est.crossJoin(exact).select(
        "n_sample",
        round4(F.col("p50_est")).alias("p50_est"),
        round4(F.col("p90_est")).alias("p90_est"),
        round4(F.col("p50_exact")).alias("p50_exact"),
        round4(F.col("p90_exact")).alias("p90_exact"),
    )


_register(
    "stats_kmv_quantile",
    Query(
        spark=_kmv_spark,
        sql=f"""
WITH ev AS (
  SELECT *, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events
),
sk AS (
  SELECT day, value AS v, md5(CAST(event_id AS VARCHAR)) AS h,
    row_number() OVER (
      PARTITION BY day ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn
  FROM ev
),
daily AS (SELECT day, h, v FROM sk WHERE rn <= {_KMV_K}),
m AS (
  SELECT h, v, row_number() OVER (ORDER BY h) AS rn FROM daily
),
merged AS (SELECT h, v FROM m WHERE rn <= {_KMV_K}),
est AS (
  SELECT count(*) AS n_sample,
    quantile_cont(v, 0.5) AS p50_est, quantile_cont(v, 0.9) AS p90_est
  FROM merged
),
ex AS (
  SELECT quantile_cont(value, 0.5) AS p50_exact,
    quantile_cont(value, 0.9) AS p90_exact
  FROM ev
)
SELECT CAST(n_sample AS BIGINT) AS n_sample,
  {_r('p50_est', 'p50_est')}, {_r('p90_est', 'p90_est')},
  {_r('p50_exact', 'p50_exact')}, {_r('p90_exact', 'p90_exact')}
FROM est, ex""",
    ),
)


# --------------------------------------------------------------------- #
# MinHash estimator-quality audit (estimate vs true Jaccard per candidate)
# --------------------------------------------------------------------- #


def _minhash_est_sql() -> str:
    from ..functions.dedup import MINHASH_COEFFS

    k = len(MINHASH_COEFFS)
    match_sum = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(1, k + 1)
    )
    return f"""
WITH {_minhash_ctes()},
cb AS (SELECT ia, ib, count(*) AS n_bands FROM cand GROUP BY 1, 2),
hd AS (SELECT DISTINCT doc_id, wh FROM h),
sz AS (SELECT doc_id, count(*) AS n FROM hd GROUP BY 1),
it AS (
  SELECT x.doc_id AS ia, y.doc_id AS ib, count(*) AS inter
  FROM hd x JOIN hd y ON x.wh = y.wh AND x.doc_id < y.doc_id
  JOIN cb ON cb.ia = x.doc_id AND cb.ib = y.doc_id
  GROUP BY 1, 2
)
SELECT cb.ia, cb.ib, cb.n_bands,
  {_r(f'({match_sum}) / {float(k)}', 'est_jaccard')},
  {_r('CAST(COALESCE(it.inter, 0) AS DOUBLE)'
      ' / (sa.n + sb.n - COALESCE(it.inter, 0))', 'true_jaccard')}
FROM cb
JOIN sig a ON cb.ia = a.doc_id
JOIN sig b ON cb.ib = b.doc_id
JOIN sz sa ON cb.ia = sa.doc_id
JOIN sz sb ON cb.ib = sb.doc_id
LEFT JOIN it ON cb.ia = it.ia AND cb.ib = it.ib"""


def _minhash_est_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dedup

    out = dedup.minhash_estimate_vs_true(load_table(spark, sf_dir, "documents"))
    return out.select(
        "ia",
        "ib",
        "n_bands",
        round4(F.col("est_jaccard")).alias("est_jaccard"),
        round4(F.col("true_jaccard")).alias("true_jaccard"),
    )


_register(
    "dedup_minhash_estimate",
    Query(spark=_minhash_est_spark, sql=_minhash_est_sql()),
)


# --------------------------------------------------------------------- #
# Snapshot reconciliation (FULL OUTER join + row-status classification)
# --------------------------------------------------------------------- #


def _reconcile_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly "what changed between snapshots" report: FULL OUTER
    join of two order snapshots on the key, rows classified as
    unchanged / changed / left_only / right_only, with the total price
    drift per class.  One key-hash shuffle (or zero with both snapshots
    bucketed on the key — `write_bucketed_table`); the classification is
    a codegen'd CASE over the join's null pattern."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("pa")
    )
    new = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("pb"),
    )
    j = old.join(new, "k", "full_outer")
    status = (
        F.when(F.col("pa").isNull(), F.lit("right_only"))
        .when(F.col("pb").isNull(), F.lit("left_only"))
        .when(F.col("pa") == F.col("pb"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(
                F.sum(
                    F.abs(
                        F.coalesce(F.col("pb"), F.lit(0.0))
                        - F.coalesce(F.col("pa"), F.lit(0.0))
                    )
                )
            ).alias("abs_drift"),
        )
    )


_register(
    "reconcile_snapshots",
    Query(
        spark=_reconcile_spark,
        sql=f"""
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS pa FROM orders
  WHERE o_orderkey % 89 != 0
),
new AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
         ELSE o_totalprice END AS pb
  FROM orders WHERE o_orderkey % 97 != 0
),
j AS (SELECT * FROM old FULL OUTER JOIN new USING (k)),
c AS (
  SELECT CASE WHEN pa IS NULL THEN 'right_only'
              WHEN pb IS NULL THEN 'left_only'
              WHEN pa = pb THEN 'unchanged'
              ELSE 'changed' END AS status,
    abs(COALESCE(pb, 0.0) - COALESCE(pa, 0.0)) AS d
  FROM j
)
SELECT status, count(*) AS n, {_r('sum(d)', 'abs_drift')}
FROM c GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Unpivot / melt (wide → long) with a per-metric rollup
# --------------------------------------------------------------------- #


def _unpivot_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the native ``unpivot`` (Expand-based — one
    pass over the input emitting |metrics| rows each, no joins), then a
    per-metric rollup.  The inverse of `pivot_lineitem`."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="v",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        round4(F.avg("v")).alias("avg_v"),
        round4(F.max("v")).alias("max_v"),
    )


_register(
    "unpivot_lineitem",
    Query(
        spark=_unpivot_spark,
        sql=f"""
WITH long AS (
  SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT metric, count(*) AS n, {_r('avg(v)', 'avg_v')},
  {_r('max(v)', 'max_v')}
FROM long GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Custom Python DataSource V2 connector (partition-parallel + pushdown)
# --------------------------------------------------------------------- #

_TICKS_ROWS = 20000
_TICKS_SYMS = 8


def _pysource_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over the custom ``synthetic_ticks`` Python DataSource —
    the V2 connector surface (partition-parallel generator reader with
    source-side filter pushdown).  ``sf_dir`` is unused: the source IS the
    input; the oracle replays its integer-exact row formula over
    ``range()``, so even a from-thin-air connector gets a value-hash
    row."""
    from ..sources.pysource import register_ticks_source

    register_ticks_source(spark)
    df = (
        spark.read.format("synthetic_ticks")
        .option("rows", _TICKS_ROWS)
        .option("symbols", _TICKS_SYMS)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        round4(F.avg("close")).alias("avg_close"),
        F.sum("volume").cast("long").alias("sum_volume"),
    )


_register(
    "pysource_ticks_agg",
    Query(
        spark=_pysource_spark,
        sql=f"""
WITH t AS (
  SELECT 'S' || CAST(seq % {_TICKS_SYMS} AS VARCHAR) AS symbol,
    CAST((seq * 2654435761) % 100000 AS DOUBLE) / 100.0 AS close,
    (seq * 40503) % 1000 + 1 AS volume
  FROM (SELECT range AS seq FROM range(0, {_TICKS_ROWS}))
)
SELECT symbol, count(*) AS n, {_r('avg(close)', 'avg_close')},
  CAST(sum(volume) AS BIGINT) AS sum_volume
FROM t GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Rolling exact median (robust smoother — window-aggregate percentile)
# --------------------------------------------------------------------- #


def _rolling_median_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """21-row rolling median of close per symbol — the robust smoother
    SMAs can't give you.  Size-dispatched on the STATIC frame width via
    :func:`~indicators_spark.approx.rolling_median_auto`: exact per-frame
    percentile at 21 rows (what the oracle replays), t-digest window
    aggregate for extreme frames.  One symbol-hash exchange shared with
    any co-partitioned chain either way."""
    from ..approx import rolling_median_auto
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    out = rolling_median_auto(
        p, "close", 21, order_cols=("timestamp", "seq"),
        partition_cols=("symbol",),
    )
    return out.select(
        "symbol", "seq", round4(F.col("close_median_21")).alias("close_median_21")
    )


_register(
    "rolling_median",
    Query(
        spark=_rolling_median_spark,
        sql=_sql(
            f"""m AS (
  SELECT symbol, seq,
    quantile_cont(close, 0.5) OVER (
      PARTITION BY symbol ORDER BY "timestamp", seq
      ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS med
  FROM prices
)
SELECT symbol, seq, {_r('med', 'close_median_21')} FROM m"""
        ),
    ),
)


# --------------------------------------------------------------------- #
# Linear multi-touch attribution — ZERO self-join (running-count credit)
# --------------------------------------------------------------------- #


def _attribution_linear_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear attribution without the event×event self-join every naive
    implementation writes: per user, RUNNING counts of prior clicks and
    views (two conditional window sums over one exchange) give each
    purchase its touch mix directly — credit = value · cnt_t / Σcnt.
    Purchases with no prior touch fall in 'none'.  Cost is identical to
    last-touch: one user-keyed window pass + a 3-row groupBy, linear in
    events at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nclick = F.sum(
        F.when(F.col("event_type") == "click", 1).otherwise(0)
    ).over(w)
    nview = F.sum(
        F.when(F.col("event_type") == "view", 1).otherwise(0)
    ).over(w)
    p = (
        ev.withColumn("nc", nclick)
        .withColumn("nv", nview)
        .filter(F.col("event_type") == "purchase")
        .withColumn("tot", F.coalesce(F.col("nc"), F.lit(0)) + F.coalesce(F.col("nv"), F.lit(0)))
    )
    credits = p.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("click").alias("touch_type"),
                    F.when(
                        F.col("tot") > 0,
                        F.col("value") * F.col("nc") / F.col("tot"),
                    ).otherwise(F.lit(0.0)).alias("credit"),
                ),
                F.struct(
                    F.lit("view").alias("touch_type"),
                    F.when(
                        F.col("tot") > 0,
                        F.col("value") * F.col("nv") / F.col("tot"),
                    ).otherwise(F.lit(0.0)).alias("credit"),
                ),
                F.struct(
                    F.lit("none").alias("touch_type"),
                    F.when(F.col("tot") == 0, F.col("value"))
                    .otherwise(F.lit(0.0))
                    .alias("credit"),
                ),
            )
        ).alias("c")
    ).select("c.touch_type", "c.credit")
    return credits.groupBy("touch_type").agg(
        round4(F.sum("credit")).alias("credited")
    )


_register(
    "events_attribution_linear",
    Query(
        spark=_attribution_linear_spark,
        sql=f"""
WITH t AS (
  SELECT event_type, value,
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nc,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nv
  FROM events
),
p AS (
  SELECT value, COALESCE(nc, 0) AS nc, COALESCE(nv, 0) AS nv,
    COALESCE(nc, 0) + COALESCE(nv, 0) AS tot
  FROM t WHERE event_type = 'purchase'
),
c AS (
  SELECT 'click' AS touch_type,
    CASE WHEN tot > 0 THEN value * nc / tot ELSE 0.0 END AS credit FROM p
  UNION ALL
  SELECT 'view',
    CASE WHEN tot > 0 THEN value * nv / tot ELSE 0.0 END FROM p
  UNION ALL
  SELECT 'none', CASE WHEN tot = 0 THEN value ELSE 0.0 END FROM p
)
SELECT touch_type, {_r('sum(credit)', 'credited')} FROM c GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Per-group OLS trend (centered raw-moment formula, engine-identical)
# --------------------------------------------------------------------- #


def _ols_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value on time: slope/intercept from CENTERED
    raw moments — x is shifted by the global min epoch before any sum, so
    the classic ``nΣxy − ΣxΣy`` cancellation never eats the precision the
    cross-engine hash needs (uncentered, the subtraction runs at ~1e19
    where doubles carry ~1e3 ulps).  Built-in ``regr_slope`` is avoided
    on purpose: its streaming update order is engine-specific.  Two
    passes over the aggregated skinny columns; at 100 TB both are
    map-side-combined single aggregates."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    x0 = ev.agg(F.min("x").alias("x0"))
    c = ev.crossJoin(F.broadcast(x0)).withColumn("cx", F.col("x") - F.col("x0"))
    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cx").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("cx") * F.col("y")).alias("sxy"),
        F.sum(F.col("cx") * F.col("cx")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        # slope per DAY (per-second slopes round to 0 at 4 decimals)
        round4(slope * 86400).alias("slope_per_day"),
        round4(
            F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n"))
        ).alias("intercept"),
    )


_register(
    "analytic_ols_trend",
    Query(
        spark=_ols_spark,
        sql=f"""
WITH ev AS (
  SELECT event_type,
    CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS x, value AS y
  FROM events
),
x0 AS (SELECT min(x) AS x0 FROM ev),
c AS (SELECT event_type, x - x0 AS cx, y FROM ev CROSS JOIN x0),
m AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
    sum(cx) AS sx, sum(y) AS sy, sum(cx * y) AS sxy, sum(cx * cx) AS sxx
  FROM c GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n,
  {_r('(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * 86400', 'slope_per_day')},
  {_r('sy / n - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * (sx / n)',
      'intercept')}
FROM m""",
    ),
)


# --------------------------------------------------------------------- #
# Path analysis: most common 3-step event sequences per user journey
# --------------------------------------------------------------------- #


def _path_trigrams_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step event-type paths across user journeys (the "what do
    users actually do" table funnels are designed from).  Two ``lead``s
    over ONE user-keyed exchange turn each event into its outgoing
    trigram — no sequence explosion, no self-join; the path groupBy keys
    are ≤ |event_types|³ strings with map-side combine, and top-k is
    TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    top = (
        t.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "path")
        .limit(15)
    )
    win = Window.orderBy(F.col("cnt").desc(), F.col("path"))
    return top.withColumn("rank", F.row_number().over(win)).select(
        "rank", "path", "cnt"
    )


_register(
    "events_path_trigrams",
    Query(
        spark=_path_trigrams_spark,
        sql="""
WITH t AS (
  SELECT event_type AS t1,
    lead(event_type, 1) OVER w AS t2,
    lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS path FROM t
  WHERE t2 IS NOT NULL AND t3 IS NOT NULL
),
c AS (SELECT path, count(*) AS cnt FROM p GROUP BY 1),
top AS (SELECT path, cnt FROM c ORDER BY cnt DESC, path LIMIT 15)
SELECT row_number() OVER (ORDER BY cnt DESC, path) AS rank, path, cnt
FROM top""",
    ),
)


# --------------------------------------------------------------------- #
# Incremental aggregate maintenance (materialized-view upsert pattern)
# --------------------------------------------------------------------- #


def _incr_agg_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-customer order-total table incrementally: aggregate
    ONLY the delta batch, then merge partials into the stored aggregate
    by key (sum/count are mergeable monoids).  The production pattern for
    keeping a 100 TB-derived rollup fresh — per refresh you touch
    |delta| + |affected keys|, never the history.  Here history =
    orders with orderkey%7≠0, delta = the rest; the oracle recomputes
    from scratch and must match exactly (integer counts, one-pass sums)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def agg(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total"),
        )

    history = agg(orders.filter(F.col("o_orderkey") % 7 != 0))
    delta = agg(orders.filter(F.col("o_orderkey") % 7 == 0))
    merged = (
        history.select("o_custkey", "n_orders", "total")
        .unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total").alias("total"),
        )
    )
    return merged.select(
        "o_custkey", "n_orders", round4(F.col("total")).alias("total")
    )


_register(
    "incremental_agg_maintenance",
    Query(
        spark=_incr_agg_spark,
        sql=f"""
SELECT o_custkey, count(*) AS n_orders,
  {_r('sum(o_totalprice)', 'total')}
FROM orders GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Data-quality expectations (Deequ-style gate before any pipeline run)
# --------------------------------------------------------------------- #


def _dq_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation checks over lineitem + referential
    integrity against orders — one row per check with the violation
    count and a pass flag.  All column checks fold into ONE aggregate
    pass over the fact table (conditional sums, map-side combined); the
    FK check is a single anti-join (broadcast/bucketed at scale).  The
    gate a pipeline runs before believing a new drop."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    viol = li.agg(
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "null_quantity"
        ),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("discount_range"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("returnflag_domain"),
    )
    fk = (
        li.select("l_orderkey")
        .join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orderkeys"))
    )
    wide = viol.crossJoin(fk)
    checks = [
        "null_quantity",
        "discount_range",
        "nonpositive_price",
        "returnflag_domain",
        "orphan_orderkeys",
    ]
    long = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("check"),
                        F.col(c).cast("long").alias("violations"),
                    )
                    for c in checks
                ]
            )
        ).alias("r")
    ).select("r.check", "r.violations")
    return long.withColumn("passed", F.col("violations") == 0)


_register(
    "dq_expectations",
    Query(
        spark=_dq_spark,
        sql="""
WITH v AS (
  SELECT
    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_quantity,
    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS discount_range,
    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS nonpositive_price,
    CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
      AS BIGINT) AS returnflag_domain
  FROM lineitem
),
fk AS (
  SELECT CAST(count(*) AS BIGINT) AS orphan_orderkeys
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL
),
long AS (
  SELECT 'null_quantity' AS check, null_quantity AS violations FROM v
  UNION ALL SELECT 'discount_range', discount_range FROM v
  UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM v
  UNION ALL SELECT 'returnflag_domain', returnflag_domain FROM v
  UNION ALL SELECT 'orphan_orderkeys', orphan_orderkeys FROM fk
)
SELECT "check", violations, violations = 0 AS passed FROM long""",
    ),
)


# --------------------------------------------------------------------- #
# Risk metrics per symbol (returns vol, Sharpe-style ratio, max drawdown)
# --------------------------------------------------------------------- #


def _risk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol return volatility, mean/vol ratio, and maximum drawdown
    — the portfolio-report companion the indicator chains feed.  One
    symbol-keyed window pass (returns + running peak share the exchange)
    then one groupBy; everything else is arithmetic on the aggregates."""
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    word = Window.partitionBy("symbol").orderBy("timestamp", "seq")
    wcum = word.rowsBetween(Window.unboundedPreceding, 0)
    r = F.col("close") / F.lag("close").over(word) - 1
    dd = F.col("close") / F.max("close").over(wcum) - 1
    t = p.select(
        "symbol", r.alias("r"), dd.alias("dd")
    )
    agg = t.groupBy("symbol").agg(
        F.count(F.col("r")).alias("n_returns"),
        F.avg("r").alias("mean_r"),
        F.stddev_samp("r").alias("vol"),
        F.min("dd").alias("mdd"),
    )
    return agg.select(
        "symbol",
        F.col("n_returns").cast("long").alias("n_returns"),
        round6(F.col("mean_r")).alias("mean_return"),
        round6(F.col("vol")).alias("volatility"),
        round4(F.col("mean_r") / F.nullif(F.col("vol"), F.lit(0.0))).alias("mean_over_vol"),
        round4(F.col("mdd")).alias("max_drawdown"),
    )


def _risk_sql() -> str:
    from ..sources.prices import PRICES_SQL_EVENTS

    return f"""WITH {PRICES_SQL_EVENTS.strip()},
t AS (
  SELECT symbol,
    close / lag(close) OVER (
      PARTITION BY symbol ORDER BY "timestamp", seq) - 1 AS r,
    close / max(close) OVER (
      PARTITION BY symbol ORDER BY "timestamp", seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS dd
  FROM prices
),
a AS (
  SELECT symbol, count(r) AS n_returns, avg(r) AS mean_r,
    stddev_samp(r) AS vol, min(dd) AS mdd
  FROM t GROUP BY 1
)
SELECT symbol, CAST(n_returns AS BIGINT) AS n_returns,
  {_r6('mean_r', 'mean_return')}, {_r6('vol', 'volatility')},
  {_r('mean_r / NULLIF(vol, 0)', 'mean_over_vol')}, {_r('mdd', 'max_drawdown')}
FROM a"""


_register(
    "risk_metrics_per_symbol",
    Query(spark=_risk_spark, sql=_risk_sql()),
)


# --------------------------------------------------------------------- #
# Heikin-Ashi candles (recursive open = alpha-1/2 EWM over lagged HA close)
# --------------------------------------------------------------------- #


def _heikin_ashi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi transform per symbol.  ``ha_close`` is row-local;
    the recursive ``ha_open = (ha_open₁ + ha_close₁)/2`` is EXACTLY an
    ``alpha=0.5, adjust=False`` EWM over the LAGGED ha_close (first
    element seeded with ``(open+close)/2``), so it rides the engine's
    one-shuffle EWM program machinery instead of a bespoke recursion —
    and the oracle replays it with the same recursive-CTE shape every
    EWM query uses.  high/low wrap-arounds are row-local greatest/least
    over (high|low, ha_open, ha_close)."""
    from ..ewm import EwmStep, apply_ewm_program
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    word = Window.partitionBy("symbol").orderBy("timestamp", "seq")
    base = p.withColumn(
        "ha_close",
        (F.col("open") + F.col("high") + F.col("low") + F.col("close")) / 4,
    ).withColumn(
        "_x",
        F.coalesce(
            F.lag("ha_close").over(word),
            (F.col("open") + F.col("close")) / 2,
        ),
    )
    out = apply_ewm_program(
        base,
        [EwmStep(src="_x", out="ha_open", alpha=0.5, adjust=False)],
        partition_cols=("symbol",),
        order_cols=("timestamp", "seq"),
    )
    return out.select(
        "symbol",
        "seq",
        round4(F.col("ha_open")).alias("ha_open"),
        round4(F.col("ha_close")).alias("ha_close"),
        round4(
            F.greatest(F.col("high"), F.col("ha_open"), F.col("ha_close"))
        ).alias("ha_high"),
        round4(
            F.least(F.col("low"), F.col("ha_open"), F.col("ha_close"))
        ).alias("ha_low"),
    )


def _heikin_ashi_sql() -> str:
    from ..sources.prices import PRICES_SQL_EVENTS

    return f"""WITH RECURSIVE {PRICES_SQL_EVENTS.strip()},
base AS MATERIALIZED (
  SELECT symbol, seq, "timestamp", open, high, low, close,
    (open + high + low + close) / 4 AS ha_close,
    row_number() OVER (PARTITION BY symbol ORDER BY {ORDER}) AS rn
  FROM prices
),
rec AS (
  SELECT symbol, seq, rn, ha_close, (open + close) / 2 AS ha_open
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.seq, b.rn, b.ha_close,
    0.5 * r.ha_open + 0.5 * r.ha_close
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT b.symbol, b.seq,
  {_r('r.ha_open', 'ha_open')}, {_r('b.ha_close', 'ha_close')},
  {_r('greatest(b.high, r.ha_open, b.ha_close)', 'ha_high')},
  {_r('least(b.low, r.ha_open, b.ha_close)', 'ha_low')}
FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn"""


_register(
    "heikin_ashi",
    Query(spark=_heikin_ashi_spark, sql=_heikin_ashi_sql()),
)


# --------------------------------------------------------------------- #
# RANGE-frame window (event-time trailing aggregate, not row-count based)
# --------------------------------------------------------------------- #


def _range_window_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour (event-time RANGE frame) volume sum and bar count
    per symbol — the frame type row-based rolling windows can't express
    when bars are irregularly spaced.  Same single symbol exchange as
    every per-symbol window; the range frame is evaluated with a sliding
    pointer over the sorted partition (linear, not per-row rescan)."""
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir).withColumn(
        "epoch", F.unix_timestamp("timestamp").cast("long")
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("epoch")
        .rangeBetween(-3600, 0)
    )
    return p.select(
        "symbol",
        "seq",
        F.count(F.lit(1)).over(w).cast("long").alias("bars_1h"),
        round4(F.sum("volume").over(w)).alias("volume_1h"),
    )


def _range_window_sql() -> str:
    from ..sources.prices import PRICES_SQL_EVENTS

    return f"""WITH {PRICES_SQL_EVENTS.strip()},
e AS (
  SELECT symbol, seq, volume,
    CAST(floor(epoch("timestamp")) AS BIGINT) AS epoch
  FROM prices
),
t AS (
  SELECT symbol, seq,
    count(*) OVER w AS bars_1h, sum(volume) OVER w AS v
  FROM e
  WINDOW w AS (PARTITION BY symbol ORDER BY epoch
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
)
SELECT symbol, seq, CAST(bars_1h AS BIGINT) AS bars_1h,
  {_r('v', 'volume_1h')}
FROM t"""


_register(
    "range_window_trailing_1h",
    Query(spark=_range_window_spark, sql=_range_window_sql()),
)


# --------------------------------------------------------------------- #
# Native session_window (engine-managed session merge, batch form)
# --------------------------------------------------------------------- #


def _session_window_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the NATIVE ``session_window`` aggregate (the
    same operator Structured Streaming uses with state-store-backed
    merging) instead of the lag/gap-islands rewrite — identical session
    boundaries (a gap ≥ 30 min closes the window: sessions are
    [first, last+gap) half-open), same single user-keyed exchange, and
    the exact same oracle as `events_sessionize_30m` replays."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


_register(
    "events_session_window_native",
    Query(
        spark=_session_window_spark,
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
# Forecast backtest: seasonal-naive baseline + MAE/RMSE/MAPE per series
# --------------------------------------------------------------------- #


def _forecast_eval_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest the seasonal-naive forecaster (ŷ_d = y_{d-7}) on daily
    event counts per type and score it with MAE/RMSE/MAPE — the baseline
    row every forecasting system must beat, plus the metric kit used to
    judge it.  The expensive pass is the one daily-count groupBy; the
    forecast is a lag-7 window over the AGGREGATED (type, day) series and
    the metrics are one more tiny aggregate — at 100 TB the evaluation
    costs |types|·|days| rows regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("etype"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).alias("y"))
    w = Window.partitionBy("etype").orderBy("day")
    t = daily.withColumn("yhat", F.lag("y", 7).over(w)).filter(
        F.col("yhat").isNotNull()
    )
    err = F.col("y") - F.col("yhat")
    return (
        t.groupBy("etype")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.avg(F.abs(err)).alias("mae"),
            F.sqrt(F.avg(err * err)).alias("rmse"),
            F.avg(
                F.when(F.col("y") != 0, F.abs(err) / F.col("y"))
            ).alias("mape"),
        )
        .select(
            "etype",
            "n_days",
            round4(F.col("mae")).alias("mae"),
            round4(F.col("rmse")).alias("rmse"),
            round4(F.col("mape")).alias("mape"),
        )
    )


_register(
    "forecast_seasonal_naive_eval",
    Query(
        spark=_forecast_eval_spark,
        sql=f"""
WITH daily AS (
  SELECT event_type AS etype,
    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS y
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT etype, y,
    lag(y, 7) OVER (PARTITION BY etype ORDER BY day) AS yhat
  FROM daily
),
f AS (SELECT * FROM t WHERE yhat IS NOT NULL)
SELECT etype, count(*) AS n_days,
  {_r('avg(abs(y - yhat))', 'mae')},
  {_r('sqrt(avg((y - yhat) * (y - yhat)))', 'rmse')},
  {_r("avg(CASE WHEN y != 0 THEN abs(y - yhat) / y END)", 'mape')}
FROM f GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Autocorrelation function per symbol (lags 1..5, centered-moment corr)
# --------------------------------------------------------------------- #

_ACF_LAGS = (1, 2, 3, 4, 5)


def _acf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of close at small lags per symbol — the stationarity /
    memory diagnostic read before fitting anything autoregressive.
    Pearson r is computed from CENTERED raw moments over each (symbol,
    lag) pair set (same engine-identical discipline as
    `analytic_ols_trend`; built-in `corr` is engine-specific in update
    order).  The lag columns ride one symbol-keyed window exchange; the
    explode emits |lags| skinny rows per bar, each reduced map-side."""
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp", "seq")
    mean0 = p.groupBy("symbol").agg(F.avg("close").alias("mu"))
    lagged = p.select(
        "symbol",
        F.col("close").alias("y"),
        *[F.lag("close", k).over(w).alias(f"l{k}") for k in _ACF_LAGS],
    )
    pairs = lagged.join(F.broadcast(mean0), "symbol").select(
        "symbol",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        (F.col("y") - F.col("mu")).alias("a"),
                        (F.col(f"l{k}") - F.col("mu")).alias("b"),
                    )
                    for k in _ACF_LAGS
                ]
            )
        ).alias("r"),
    ).select("symbol", "r.lag", "r.a", "r.b").filter(F.col("b").isNotNull())
    m = pairs.groupBy("symbol", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    r = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")) / F.nullif(
        F.sqrt(F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        * F.sqrt(F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")),
        F.lit(0.0),
    )
    return m.select(
        "symbol", "lag", F.col("n").cast("long").alias("n_pairs"),
        round4(r).alias("acf"),
    )


def _acf_sql() -> str:
    from ..sources.prices import PRICES_SQL_EVENTS

    lag_sel = ", ".join(
        f'lag(close, {k}) OVER (PARTITION BY symbol ORDER BY "timestamp", seq)'
        f" AS l{k}"
        for k in _ACF_LAGS
    )
    unions = " UNION ALL ".join(
        f"SELECT symbol, {k} AS lag, y - mu AS a, l{k} - mu AS b"
        f" FROM lagged JOIN mu0 USING (symbol) WHERE l{k} IS NOT NULL"
        for k in _ACF_LAGS
    )
    return f"""WITH {PRICES_SQL_EVENTS.strip()},
mu0 AS (SELECT symbol, avg(close) AS mu FROM prices GROUP BY 1),
lagged AS (
  SELECT symbol, close AS y, {lag_sel} FROM prices
),
pairs AS ({unions}),
m AS (
  SELECT symbol, lag, CAST(count(*) AS DOUBLE) AS n,
    sum(a) AS sa, sum(b) AS sb, sum(a * b) AS sab,
    sum(a * a) AS saa, sum(b * b) AS sbb
  FROM pairs GROUP BY 1, 2
)
SELECT symbol, lag, CAST(n AS BIGINT) AS n_pairs,
  {_r('(n * sab - sa * sb) / NULLIF(sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb), 0)', 'acf')}
FROM m"""


_register(
    "analytic_acf",
    Query(spark=_acf_spark, sql=_acf_sql()),
)


# --------------------------------------------------------------------- #
# PCA top component via power iteration on the covariance table
# --------------------------------------------------------------------- #

_PCA_ITERS = 3


def _pca_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus by POWER
    ITERATION over the distributed covariance table: the corpus is
    touched exactly once (the partial-moment pass of
    `covariance_matrix`); every subsequent iterate is a matvec expressed
    relationally on the dim² aggregate — join on the contraction index,
    one (i)-keyed sum — so the iteration cost is independent of corpus
    size.  Start v₀=e₁, 3 un-normalized iterations (power iteration is
    scale-free until the final normalize), sign fixed to the largest-|·|
    component.  The SQL oracle replays the identical supersteps."""
    from ..functions.similarity import covariance_matrix

    cov = covariance_matrix(load_table(spark, sf_dir, "embeddings"), dim=EMB_DIM)
    full = cov.unionByName(
        cov.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    )
    v = spark.range(1, EMB_DIM + 1).select(
        F.col("id").cast("int").alias("i"),
        F.when(F.col("id") == 1, 1.0).otherwise(0.0).alias("val"),
    )
    for _ in range(_PCA_ITERS):
        v = (
            full.join(F.broadcast(v), full["j"] == v["i"])
            .select(full["i"].alias("vi"), (F.col("cov") * F.col("val")).alias("p"))
            .groupBy("vi")
            .agg(F.sum("p").alias("val"))
            .select(F.col("vi").alias("i"), "val")
        )
    nrm = v.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm"))
    sgn = v.orderBy(F.abs(F.col("val")).desc(), F.col("i")).limit(1).select(
        F.signum("val").alias("sgn")
    )
    return (
        v.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(sgn))
        .select(
            "i",
            round6(F.col("val") / F.col("nrm") * F.col("sgn")).alias("loading"),
        )
    )


def _pca_sql() -> str:
    steps = []
    for t in range(1, _PCA_ITERS + 1):
        prev = f"v{t - 1}"
        steps.append(
            f"""v{t} AS (
  SELECT f.i, sum(f.cov * {prev}.val) AS val
  FROM fullm f JOIN {prev} ON f.j = {prev}.i GROUP BY 1
)"""
        )
    return f"""
WITH x AS (
  SELECT vec_id, t.range AS i, CAST(embedding[t.range] AS DOUBLE) AS xi
  FROM embeddings, range(1, {EMB_DIM + 1}) t
),
m AS (SELECT i, avg(xi) AS mi FROM x GROUP BY 1),
p AS (
  SELECT a.i, b.i AS j, avg(a.xi * b.xi) AS exy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
  GROUP BY 1, 2
),
ut AS (
  SELECT p.i, p.j, p.exy - ma.mi * mb.mi AS cov
  FROM p JOIN m ma ON p.i = ma.i JOIN m mb ON p.j = mb.i
),
fullm AS (
  SELECT i, j, cov FROM ut
  UNION ALL
  SELECT j AS i, i AS j, cov FROM ut WHERE i != j
),
v0 AS (
  SELECT CAST(t.range AS INT) AS i,
    CASE WHEN t.range = 1 THEN 1.0 ELSE 0.0 END AS val
  FROM range(1, {EMB_DIM + 1}) t
),
{','.join(steps)},
nrm AS (SELECT sqrt(sum(val * val)) AS nrm FROM v{_PCA_ITERS}),
sgn AS (
  SELECT CASE WHEN val > 0 THEN 1.0 WHEN val < 0 THEN -1.0 ELSE 0.0 END AS sgn
  FROM v{_PCA_ITERS} ORDER BY abs(val) DESC, i LIMIT 1
)
SELECT v.i, {_r6('v.val / nrm.nrm * sgn.sgn', 'loading')}
FROM v{_PCA_ITERS} v CROSS JOIN nrm CROSS JOIN sgn"""


_register(
    "embedding_pca_power",
    Query(spark=_pca_spark, sql=_pca_sql()),
)


# --------------------------------------------------------------------- #
# Classifier evaluation: lang-ID confusion matrix + per-class recall
# --------------------------------------------------------------------- #


def _langid_eval_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the labeled
    ``lang`` column, with per-(true, predicted) counts and the true
    class's recall attached — the evaluation loop every classifier in
    the pipeline (lang-ID, quality gates, dedup thresholds) gets judged
    by.  The classify pass is the zero-shuffle lang-ID expression; the
    matrix is one (true, pred) groupBy (≤ |langs|² cells) and recall is
    a broadcast join of per-class totals."""
    from ..functions import text as textmod

    docs = load_table(spark, sf_dir, "documents")
    pred = textmod.with_lang_id(docs).select(
        F.col("lang").alias("true_lang"), F.col("lang_id").alias("pred_lang")
    )
    cells = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = cells.groupBy("true_lang").agg(F.sum("n").alias("tot"))
    return (
        cells.join(F.broadcast(totals), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            F.col("n").cast("long").alias("n"),
            round4(F.col("n") / F.col("tot")).alias("share_of_true"),
        )
    )


def _langid_eval_sql() -> str:
    inner = _lang_sql().strip()
    return f"""
WITH pred AS (
  SELECT d.lang AS true_lang, p.lang_id AS pred_lang
  FROM documents d JOIN ({inner}) p ON d.doc_id = p.doc_id
),
cells AS (
  SELECT true_lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
),
tot AS (SELECT true_lang, sum(n) AS tot FROM cells GROUP BY 1)
SELECT c.true_lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
  {_r('CAST(c.n AS DOUBLE) / t.tot', 'share_of_true')}
FROM cells c JOIN tot t ON c.true_lang = t.true_lang"""


_register(
    "text_langid_confusion",
    Query(spark=_langid_eval_spark, sql=_langid_eval_sql()),
)


# --------------------------------------------------------------------- #
# Shortest paths (fixed-round Bellman-Ford over the trade graph)
# --------------------------------------------------------------------- #

_BF_ROUNDS = 3
_BF_SRC = "NATION_0"


def _shortest_paths_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest trade routes from one nation after 3 Bellman-Ford
    relaxation rounds, edge cost = 1/weight (heavier trade ⇒ closer).
    Each round is one edges⋈distances join + a dst-keyed MIN — the
    Pregel relaxation expressed relationally; ``iters`` bounds path
    length (like PageRank's fixed supersteps) so the oracle can replay
    rounds as CTEs.  Distances are sums of ≤3 fixed doubles added in
    path order — no aggregation-order ambiguity, min is exact."""
    # persist: the edge list re-reads per relaxation round, and its
    # lineage is the fact-scale lineitem⋈orders join (cf. graph.pagerank)
    e = _trade_edges(spark, sf_dir).select(
        "src", "dst", (F.lit(1.0) / F.col("w")).alias("cost")
    ).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.select(
        "node",
        F.when(F.col("node") == _BF_SRC, 0.0).alias("d"),  # others NULL = inf
    )
    for _ in range(_BF_ROUNDS):
        relaxed = (
            e.join(F.broadcast(dist), e["src"] == dist["node"])
            .filter(F.col("d").isNotNull())
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("cost")).alias("cand"))
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        dist = (
            dist.join(relaxed.withColumnRenamed("node", "_n"),
                      dist["node"] == F.col("_n"), "left")
            .select(
                "node",
                F.least(
                    F.coalesce(F.col("d"), F.lit(float("inf"))),
                    F.coalesce(F.col("cand"), F.lit(float("inf"))),
                ).alias("d"),
            )
            .select("node", F.when(F.col("d") != float("inf"), F.col("d")).alias("d"))
        )
    return dist.select(
        F.col("node").alias("nation"), round6(F.col("d") * 1000).alias("dist_milli")
    )


def _shortest_paths_sql() -> str:
    rounds = []
    for t in range(1, _BF_ROUNDS + 1):
        prev = f"d{t - 1}"
        rounds.append(
            f"""r{t} AS (
  SELECT e.dst AS node, min({prev}.d + e.cost) AS cand
  FROM e JOIN {prev} ON e.src = {prev}.node
  WHERE {prev}.d IS NOT NULL GROUP BY 1
),
d{t} AS (
  SELECT n.node,
    CASE WHEN {prev}.d IS NULL THEN r{t}.cand
         WHEN r{t}.cand IS NULL THEN {prev}.d
         WHEN r{t}.cand < {prev}.d THEN r{t}.cand ELSE {prev}.d END AS d
  FROM nodes n
  LEFT JOIN {prev} ON n.node = {prev}.node
  LEFT JOIN r{t} ON n.node = r{t}.node
)"""
        )
    return f"""
WITH e0 AS (
  SELECT ns.n_name AS src, nc.n_name AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  GROUP BY 1, 2
),
e AS (SELECT src, dst, 1.0 / w AS cost FROM e0),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
d0 AS (
  SELECT node, CASE WHEN node = '{_BF_SRC}' THEN 0.0 END AS d FROM nodes
),
{','.join(rounds)}
SELECT node AS nation, {_r6(f'd{_BF_ROUNDS}.d * 1000', 'dist_milli')}
FROM d{_BF_ROUNDS}"""


_register(
    "graph_shortest_paths",
    Query(spark=_shortest_paths_spark, sql=_shortest_paths_sql()),
)


# --------------------------------------------------------------------- #
# Active-user analytics: DAU / trailing-7d WAU / stickiness per day
# --------------------------------------------------------------------- #


def _active_users_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU and DAU/WAU stickiness per day.  The raw
    pass reduces events to DISTINCT (user, day) once; the sliding
    distinct count then expands each user-day into the ≤7 calendar days
    it supports (a bounded explode on the SKINNY table) and counts
    distinct users per day — never re-scanning events per window.  At
    100 TB the exact sliding distinct is the textbook case for the
    per-day HLL sketches in `stats_hll_rollup` (union 7 sketches per
    day); this exact form is the oracle-checkable twin."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).distinct()
    bounds = ud.agg(F.max("day").alias("mx"))
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    support = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
    )
    wau = (
        support.join(F.broadcast(bounds), F.col("day") <= F.col("mx"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            round4(F.col("dau") / F.col("wau")).alias("stickiness"),
        )
    )


_register(
    "events_active_users",
    Query(
        spark=_active_users_spark,
        sql=f"""
WITH ud AS (
  SELECT DISTINCT user_id,
    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
mx AS (SELECT max(day) AS mx FROM ud),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
support AS (
  SELECT user_id, day + t.range AS day
  FROM ud, range(0, 7) t
),
wau AS (
  SELECT s.day, count(DISTINCT s.user_id) AS wau
  FROM support s, mx WHERE s.day <= mx.mx GROUP BY 1
)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
  {_r('CAST(d.dau AS DOUBLE) / w.wau', 'stickiness')}
FROM dau d JOIN wau w ON d.day = w.day""",
    ),
)


# --------------------------------------------------------------------- #
# LSH banding audit: recall/precision vs ground-truth Jaccard >= 0.5
# --------------------------------------------------------------------- #

_LSH_AUDIT_T = 0.5


def _lsh_recall_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the 4-band/2-row MinHash banding against exact
    ground truth: how many true (Jaccard ≥ 0.5) pairs exist, how many
    candidate pairs the bands surfaced, and the recall / precision of the
    sketch — the number that justifies (or rejects) a banding config
    before a corpus-wide run.  Ground truth is computed exactly here
    (audit-scale corpora / samples); in production you audit on a hash
    sample and keep the banding for the full corpus."""
    from ..functions import dedup
    from ..functions.text import word_hash31

    docs = load_table(spark, sf_dir, "documents")
    cand = (
        dedup.minhash_lsh_candidates(docs).select("ia", "ib").distinct()
    )
    sh = (
        dedup._doc_shingles(docs, "doc_id", "text")
        .select("_id", word_hash31(F.col("tok")).alias("wh"))
        .distinct()
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.select(F.col("_id").alias("ia"), "wh")
        .join(sh.select(F.col("_id").alias("ib"), "wh"), "wh")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("_id").alias("ia"), F.col("n").alias("na")), "ia"
        )
        .join(
            sizes.select(F.col("_id").alias("ib"), F.col("n").alias("nb")), "ib"
        )
        .filter(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
            >= _LSH_AUDIT_T
        )
        .select("ia", "ib")
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nh = truth.join(cand, ["ia", "ib"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return nt.crossJoin(nc).crossJoin(nh).select(
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_cand").cast("long").alias("n_cand"),
        F.col("n_hit").cast("long").alias("n_hit"),
        round4(
            F.when(F.col("n_true") > 0, F.col("n_hit") / F.col("n_true"))
        ).alias("recall"),
        round4(
            F.when(F.col("n_cand") > 0, F.col("n_hit") / F.col("n_cand"))
        ).alias("precision"),
    )


def _lsh_recall_sql() -> str:
    return f"""
WITH {_minhash_ctes()},
cd AS (SELECT DISTINCT ia, ib FROM cand),
hd AS (SELECT DISTINCT doc_id, wh FROM h),
sz AS (SELECT doc_id, count(*) AS n FROM hd GROUP BY 1),
it AS (
  SELECT x.doc_id AS ia, y.doc_id AS ib, count(*) AS inter
  FROM hd x JOIN hd y ON x.wh = y.wh AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT it.ia, it.ib
  FROM it JOIN sz a ON it.ia = a.doc_id JOIN sz b ON it.ib = b.doc_id
  WHERE CAST(it.inter AS DOUBLE) / (a.n + b.n - it.inter) >= {_LSH_AUDIT_T}
),
c AS (
  SELECT (SELECT count(*) FROM truth) AS n_true,
    (SELECT count(*) FROM cd) AS n_cand,
    (SELECT count(*) FROM truth t JOIN cd
       ON t.ia = cd.ia AND t.ib = cd.ib) AS n_hit
)
SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
  CAST(n_hit AS BIGINT) AS n_hit,
  {_r('CASE WHEN n_true > 0 THEN CAST(n_hit AS DOUBLE) / n_true END', 'recall')},
  {_r('CASE WHEN n_cand > 0 THEN CAST(n_hit AS DOUBLE) / n_cand END', 'precision')}
FROM c"""


_register(
    "dedup_lsh_recall",
    Query(spark=_lsh_recall_spark, sql=_lsh_recall_sql()),
)


# --------------------------------------------------------------------- #
# Perceptual-hash (aHash) media dedup — integer-exact bit derivation
# --------------------------------------------------------------------- #


def _phash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit average-hash per payload + collision-group size — the media
    near-dup primitive (identical-looking payloads collide).  Bits are
    derived with pure integer comparisons (``sum_b·n > total·size_b``) so
    the hash carries a full value-hash oracle; the oracle replays the
    byte blocks relationally (ASCII corpus ⇒ byte == unicode(char), the
    same documented assumption `multimodal_resize` makes)."""
    from ..functions import multimodal

    docs = load_table(spark, sf_dir, "documents")
    hashed = multimodal.phash64(multimodal.attach_payload(docs))
    w = Window.partitionBy("phash")
    return hashed.select(
        "doc_id", "phash", F.count(F.lit(1)).over(w).cast("long").alias("group_size")
    )


_PHASH_MAXLEN = 1024

_register(
    "multimodal_phash_dedup",
    Query(
        spark=_phash_spark,
        sql=f"""
WITH b AS (
  SELECT doc_id, text, len(text) AS n FROM documents WHERE len(text) >= 64
),
pos AS (
  SELECT doc_id, n,
    unicode(substr(text, CAST(t.range + 1 AS INT), 1)) AS v,
    (t.range * 64) // n AS blk
  FROM b, range(0, {_PHASH_MAXLEN}) t WHERE t.range < n
),
blkagg AS (
  SELECT doc_id, blk, sum(v) AS s, count(*) AS c, max(n) AS n
  FROM pos GROUP BY 1, 2
),
tot AS (SELECT doc_id, sum(v) AS total FROM pos GROUP BY 1),
bits AS (
  SELECT a.doc_id, a.blk
  FROM blkagg a JOIN tot ON a.doc_id = tot.doc_id
  WHERE a.s * a.n > tot.total * a.c
),
ph AS (
  SELECT b.doc_id,
    CAST(COALESCE(sum(
      CASE WHEN bits.blk = 63 THEN -9223372036854775808
           ELSE (CAST(1 AS BIGINT) << bits.blk) END), 0) AS BIGINT) AS phash
  FROM b LEFT JOIN bits ON b.doc_id = bits.doc_id
  GROUP BY 1
)
SELECT doc_id, phash,
  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS group_size
FROM ph""",
    ),
)


# --------------------------------------------------------------------- #
# Leakage-safe ML training-table assembly (features at t, label from t+1)
# --------------------------------------------------------------------- #


def _training_table_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training set straight from the engine:
    per-symbol features computed over PAST bars only (gated sma-20,
    z-score of close vs that window) and a label drawn strictly from the
    FUTURE (next bar up/down) — the feature/label temporal firewall every
    leakage audit checks, expressed as window frames (features:
    rows ≤ current; label: lead).  One symbol exchange carries features
    AND label; rows without a full feature window or a next bar drop."""
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir)
    word = Window.partitionBy("symbol").orderBy("timestamp", "seq")
    wn = word.rowsBetween(-19, 0)
    cnt = F.count("close").over(wn)
    sma = F.when(cnt >= 20, F.avg("close").over(wn))
    sd = F.when(cnt >= 20, F.stddev_samp("close").over(wn))
    label = F.when(F.lead("close").over(word) > F.col("close"), 1).otherwise(0)
    has_next = F.lead("close").over(word).isNotNull()
    t = p.select(
        "symbol",
        "seq",
        sma.alias("sma20"),
        ((F.col("close") - sma) / F.nullif(sd, F.lit(0.0))).alias("z20"),
        label.alias("label"),
        has_next.alias("_hn"),
    ).filter(F.col("sma20").isNotNull() & F.col("_hn"))
    return t.select(
        "symbol",
        "seq",
        round4(F.col("sma20")).alias("sma20"),
        round4(F.col("z20")).alias("z20"),
        F.col("label").cast("long").alias("label"),
    )


def _training_table_sql() -> str:
    w = _ws(20)
    return _sql(
        f"""t AS (
  SELECT symbol, seq,
    {_gated('avg(close)', 'close', 20, w)} AS sma20,
    {_gated('stddev_samp(close)', 'close', 20, w)} AS sd20,
    lead(close) OVER {_word()} AS nxt,
    close
  FROM prices
),
f AS (
  SELECT symbol, seq, sma20,
    (close - sma20) / NULLIF(sd20, 0) AS z20,
    CASE WHEN nxt > close THEN 1 ELSE 0 END AS label
  FROM t WHERE sma20 IS NOT NULL AND nxt IS NOT NULL
)
SELECT symbol, seq, {_r('sma20', 'sma20')}, {_r('z20', 'z20')},
  CAST(label AS BIGINT) AS label
FROM f"""
    )


_register(
    "ml_training_table",
    Query(spark=_training_table_spark, sql=_training_table_sql()),
)


# --------------------------------------------------------------------- #
# Hypertable-style continuous aggregate (mergeable OHLCV hourly rollup)
# --------------------------------------------------------------------- #


def _hypertable_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timescale-style continuous aggregate: an hourly (symbol, bucket)
    OHLCV rollup maintained INCREMENTALLY — history partials and a fresh
    delta batch are aggregated separately and merged, because every OHLCV
    component is a mergeable monoid: open/close ride (ts, value) struct
    MIN/MAX (earliest/latest wins), high/low/volume are max/min/sum.
    Per refresh you touch |delta| rows + affected buckets, never the
    history — the `incremental_agg_maintenance` pattern specialized to
    time-series bars.  The oracle recomputes the whole rollup from
    scratch and must match exactly."""
    from ..sources.prices import prices_from_events

    p = prices_from_events(spark, sf_dir).withColumn(
        "bucket", (F.floor(F.unix_timestamp("timestamp") / 3600) * 3600).cast("long")
    )

    def partial(df):
        return df.groupBy("symbol", "bucket").agg(
            F.min(F.struct("seq", "open")).alias("_o"),
            F.max(F.struct("seq", "close")).alias("_c"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.sum("volume").alias("volume"),
            F.count(F.lit(1)).alias("n_bars"),
        )

    history = partial(p.filter(F.col("seq") % 11 != 0))
    delta = partial(p.filter(F.col("seq") % 11 == 0))
    merged = (
        history.unionByName(delta)
        .groupBy("symbol", "bucket")
        .agg(
            F.min("_o").alias("_o"),
            F.max("_c").alias("_c"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.sum("volume").alias("volume"),
            F.sum("n_bars").cast("long").alias("n_bars"),
        )
    )
    return merged.select(
        "symbol",
        "bucket",
        round4(F.col("_o.open")).alias("open"),
        round4(F.col("high")).alias("high"),
        round4(F.col("low")).alias("low"),
        round4(F.col("_c.close")).alias("close"),
        round4(F.col("volume")).alias("volume"),
        "n_bars",
    )


def _hypertable_sql() -> str:
    return _sql(
        f"""b AS (
  SELECT symbol,
    CAST(floor(epoch("timestamp") / 3600) * 3600 AS BIGINT) AS bucket,
    seq, open, high, low, close, volume
  FROM prices
),
r AS (
  SELECT symbol, bucket,
    min_by(open, seq) AS o, max_by(close, seq) AS c,
    max(high) AS h, min(low) AS l, sum(volume) AS v,
    count(*) AS n_bars
  FROM b GROUP BY 1, 2
)
SELECT symbol, bucket, {_r('o', 'open')}, {_r('h', 'high')},
  {_r('l', 'low')}, {_r('c', 'close')}, {_r('v', 'volume')},
  CAST(n_bars AS BIGINT) AS n_bars
FROM r"""
    )


_register(
    "hypertable_rollup",
    Query(spark=_hypertable_spark, sql=_hypertable_sql()),
)


# --------------------------------------------------------------------- #
# Duplicate-family size distribution (what the dedup actually removed)
# --------------------------------------------------------------------- #


def _dup_family_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact-duplicate family sizes — the one-table summary
    of a dedup run (how many singletons / pairs / large families, rows
    removed per family size).  Two skinny groupBys over 16-byte
    fingerprints; text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    fams = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return (
        fams.groupBy("family_size")
        .agg(F.count(F.lit(1)).alias("n_families"))
        .select(
            "family_size",
            "n_families",
            (F.col("family_size") * F.col("n_families")).cast("long").alias("n_docs"),
            ((F.col("family_size") - 1) * F.col("n_families"))
            .cast("long")
            .alias("n_removed_by_dedup"),
        )
    )


_register(
    "dedup_family_histogram",
    Query(
        spark=_dup_family_spark,
        sql="""
WITH fams AS (
  SELECT md5(text) AS fp, count(*) AS family_size FROM documents GROUP BY 1
)
SELECT family_size, count(*) AS n_families,
  CAST(family_size * count(*) AS BIGINT) AS n_docs,
  CAST((family_size - 1) * count(*) AS BIGINT) AS n_removed_by_dedup
FROM fams GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# RFM customer segmentation (recency / frequency / monetary quintiles)
# --------------------------------------------------------------------- #


def _rfm_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM segmentation: per customer, the latest order key
    (recency proxy), order count and total spend, each scored into
    quintiles (``ntile(5)``, deterministic via the customer-key
    tie-break), concatenated into the familiar 3-digit segment code.
    One fact aggregation; the quintile windows run over the AGGREGATED
    customer table (global ntile over |customers| rows — swap for the
    bucketed rank of `scale.grouped_row_number` beyond ~10⁸ customers)."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderkey").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    r = F.ntile(5).over(Window.orderBy(F.col("last_order").asc(), F.col("custkey")))
    f = F.ntile(5).over(Window.orderBy(F.col("frequency").asc(), F.col("custkey")))
    m = F.ntile(5).over(Window.orderBy(F.col("monetary").asc(), F.col("custkey")))
    scored = per_cust.select(
        "custkey",
        r.alias("r_score"),
        f.alias("f_score"),
        m.alias("m_score"),
    )
    return scored.select(
        "custkey",
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("long").alias("rfm"),
    )


_register(
    "customers_rfm",
    Query(
        spark=_rfm_spark,
        sql="""
WITH per_cust AS (
  SELECT o_custkey AS custkey, max(o_orderkey) AS last_order,
    count(*) AS frequency, sum(o_totalprice) AS monetary
  FROM orders GROUP BY 1
),
scored AS (
  SELECT custkey,
    ntile(5) OVER (ORDER BY last_order, custkey) AS r_score,
    ntile(5) OVER (ORDER BY frequency, custkey) AS f_score,
    ntile(5) OVER (ORDER BY monetary, custkey) AS m_score
  FROM per_cust
)
SELECT custkey, r_score, f_score, m_score,
  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
FROM scored""",
    ),
)


# --------------------------------------------------------------------- #
# Pareto (80/20) concentration analysis of supplier revenue
# --------------------------------------------------------------------- #


def _pareto_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: suppliers ranked by revenue with their
    cumulative share — plus the in-top-80% flag the 80/20 report wants.
    The fact pass is one supplier-keyed aggregation; the running share
    windows over |suppliers| aggregated rows only."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("suppkey"))
    tot = rev.agg(F.sum("rev").alias("tot"))
    ranked = (
        rev.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_share",
            F.sum("rev").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            / F.col("tot"),
        )
    )
    return ranked.select(
        "suppkey",
        "rank",
        round4(F.col("rev")).alias("rev"),
        round4(F.col("cum_share")).alias("cum_share"),
        (F.col("cum_share") <= 0.8).alias("in_top80"),
    )


_register(
    "supplier_pareto",
    Query(
        spark=_pareto_spark,
        sql=f"""
WITH rev AS (
  SELECT l_suppkey AS suppkey,
    sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem GROUP BY 1
),
tot AS (SELECT sum(rev) AS tot FROM rev),
ranked AS (
  SELECT suppkey, rev,
    row_number() OVER (ORDER BY rev DESC, suppkey) AS rank,
    sum(rev) OVER (ORDER BY rev DESC, suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      / tot.tot AS cum_share
  FROM rev CROSS JOIN tot
)
SELECT suppkey, rank, {_r('rev', 'rev')}, {_r('cum_share', 'cum_share')},
  cum_share <= 0.8 AS in_top80
FROM ranked""",
    ),
)
