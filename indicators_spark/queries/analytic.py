"""Analytic family: ranking windows, exact percentiles, bivariate
statistics, histogram binning, a Python UDTF, exact (weighted) selection
and robust scaling, weighted quantiles, key-skew profiling, and the
sketch and drift audits (HLL, t-digest, count-min, compression ratio,
KS, PSI).

The reference has no ranking/percentile/statistical aggregates (SURVEY.md
§2b "Not present in the reference") — these are north-star extensions
chosen because a training-data pipeline leans on them constantly
(quantile cut-offs for quality filtering, rank-based sampling, score
distributions).

Determinism notes (cross-engine hash discipline):

* ``rank``/``percent_rank``/``cume_dist`` depend only on the ORDER KEY
  VALUES, so ties are safe.  ``ntile`` attaches to physical row order —
  safe here only because rows that tie on the full order key are
  bit-identical (see sources/prices.py on the synthetic lineitem dups),
  making the output multiset unique even when the assignment isn't.
* ``percentile`` (Spark) and ``quantile_cont`` (DuckDB) implement the
  same linear interpolation; outputs are quantized like every float.
* The histogram's bucket expression is the same double arithmetic on both
  sides (floor of an identical IEEE expression), never engine-native
  ``width_bucket`` variants with differing edge rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.drift import KS_C_ALPHA_05
from ..sources.prices import load_table
from ._base import Query, _docs, _r, _register, round4


def _seq():
    # built lazily — Column arithmetic needs an active SparkContext, which
    # doesn't exist at import time (queries register at import)
    return (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq")


_SEQ_SQL = "l_orderkey * 10 + l_linenumber"


# --------------------------------------------------------------------- #
# Ranking window functions
# --------------------------------------------------------------------- #


def _ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    wv = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wt = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber", "l_quantity"
    )
    return li.select(
        "l_returnflag",
        _seq(),
        F.rank().over(wv).alias("rnk"),
        F.dense_rank().over(wv).alias("drnk"),
        round4(F.percent_rank().over(wv)).alias("prnk"),
        round4(F.cume_dist().over(wv)).alias("cdist"),
        F.ntile(8).over(wt).alias("octile"),
    )


_register(
    "analytic_ranks",
    Query(
        spark=_ranks,
        sql=f"""
SELECT l_returnflag, {_SEQ_SQL} AS seq,
  CAST(rank() OVER w AS INT) AS rnk,
  CAST(dense_rank() OVER w AS INT) AS drnk,
  {_r('percent_rank() OVER w', 'prnk')},
  {_r('cume_dist() OVER w', 'cdist')},
  CAST(ntile(8) OVER wt AS INT) AS octile
FROM lineitem
WHERE l_quantity >= 48
WINDOW
  w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice),
  wt AS (PARTITION BY l_returnflag
         ORDER BY l_extendedprice, l_orderkey, l_linenumber, l_quantity)""",
    ),
)


# --------------------------------------------------------------------- #
# Exact percentiles (interpolated), per group
# --------------------------------------------------------------------- #


def _percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            round4(F.percentile("l_extendedprice", F.lit(0.25))).alias("q25"),
            round4(F.percentile("l_extendedprice", F.lit(0.5))).alias("q50"),
            round4(F.percentile("l_extendedprice", F.lit(0.75))).alias("q75"),
            round4(F.percentile("l_extendedprice", F.lit(0.9))).alias("q90"),
        )
    )


_register(
    "analytic_percentiles",
    Query(
        spark=_percentiles,
        sql=f"""
SELECT l_returnflag,
  {_r('quantile_cont(l_extendedprice, 0.25)', 'q25')},
  {_r('quantile_cont(l_extendedprice, 0.50)', 'q50')},
  {_r('quantile_cont(l_extendedprice, 0.75)', 'q75')},
  {_r('quantile_cont(l_extendedprice, 0.90)', 'q90')}
FROM lineitem GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Bivariate statistics per group
# --------------------------------------------------------------------- #


def _bistats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qp"),
        round4(F.covar_samp("l_quantity", "l_extendedprice")).alias("covar_qp"),
        round4(F.stddev_samp("l_extendedprice")).alias("std_price"),
        # Spark skewness = biased population g1; the oracle multiplies
        # DuckDB's bias-corrected G1 by (n-2)/sqrt(n(n-1)) to match
        # EXACTLY (at sf0.001 the raw estimators differ past the 4dp
        # quantizer — this was a latent hash mismatch).
        round4(F.skewness("l_extendedprice")).alias("skew_price"),
    )


_register(
    "analytic_bistats",
    Query(
        spark=_bistats,
        sql=f"""
SELECT l_returnflag,
  {_r('corr(l_quantity, l_extendedprice)', 'corr_qp')},
  {_r('covar_samp(l_quantity, l_extendedprice)', 'covar_qp')},
  {_r('stddev_samp(l_extendedprice)', 'std_price')},
  {_r('skewness(l_extendedprice) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0))', 'skew_price')}
FROM lineitem GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Histogram binning (16 equal-width buckets over the observed range)
# --------------------------------------------------------------------- #

_NBINS = 16


def _histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution histogram with data-driven bounds: one min/max pass
    (a one-row broadcast), then a map-side bucket expression + one groupBy.
    The bucket arithmetic is plain IEEE floor — identical on both engines —
    with the max value clamped into the top bucket."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bounds = li.agg(
        F.min("l_extendedprice").alias("_lo"), F.max("l_extendedprice").alias("_hi")
    )
    b = F.least(
        F.lit(_NBINS - 1),
        F.floor(
            (F.col("l_extendedprice") - F.col("_lo"))
            / (F.col("_hi") - F.col("_lo"))
            * _NBINS
        ),
    ).cast("int")
    return (
        li.crossJoin(F.broadcast(bounds))
        .groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(F.avg("l_extendedprice")).alias("avg_price"),
        )
    )


_register(
    "analytic_histogram",
    Query(
        spark=_histogram,
        sql=f"""
WITH bounds AS (
  SELECT min(l_extendedprice) AS _lo, max(l_extendedprice) AS _hi
  FROM lineitem
)
SELECT
  CAST(least({_NBINS - 1},
    floor((l_extendedprice - _lo) / (_hi - _lo) * {_NBINS})) AS INT) AS bucket,
  count(*) AS n, {_r('avg(l_extendedprice)', 'avg_price')}
FROM lineitem, bounds
GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Python UDTF (table function): text → (pos, word) rows
# --------------------------------------------------------------------- #


def _udtf_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-less row UDTF splitting documents into positioned words, then
    a relational reduction on top (longest word per position bucket).

    UDTFs are the 1:N row-generator API (SURVEY §2b lists UDTF
    registration among the Spark features the reference lacks).  This is
    deliberately the *slow path* demo — the production equivalent of this
    particular job is the pure-builtin ``posexplode(split(...))`` used by
    the dedup/shingle operators; a UDTF earns its cost only when the
    generator is genuinely imperative (parsers, tokenizers with state)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, word string")
    class SplitWords:
        def eval(self, doc_id, text):  # noqa: ANN001
            if text is None:
                return  # SQL NULL emits no rows (string_split(NULL) parity)
            for i, w in enumerate(str(text).split(" ")):
                if w:
                    yield int(doc_id), i, w

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    spark.udtf.register("split_words", SplitWords)
    docs.createOrReplaceTempView("_udtf_docs")
    words = spark.sql(
        "SELECT sw.doc_id, sw.pos, sw.word "
        "FROM _udtf_docs, LATERAL split_words(doc_id, text) sw"
    )
    return (
        words.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.max(F.length("word")).alias("max_len"),
            F.min("word").alias("first_word"),
        )
    )


_register(
    "udtf_split_words",
    Query(
        spark=_udtf_words,
        sql="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS parts
  FROM documents WHERE doc_id < 300
),
words AS (
  SELECT doc_id, CAST(g AS INT) - 1 AS pos, parts[g] AS word
  FROM d, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS g) t
  WHERE parts[g] <> ''
)
SELECT pos, count(*) AS n_words,
  CAST(max(length(word)) AS INT) AS max_len,
  min(word) AS first_word
FROM words GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# Navigation window functions (first/last/nth, ignore-nulls carry)
# --------------------------------------------------------------------- #


def _navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over deterministic frames, and
    the last-non-null carry (Spark ``F.last(ignorenulls=True)`` ≡ SQL
    ``last_value(x IGNORE NULLS)``) that powers forward-fill."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    order = [F.col(c) for c in ("l_shipdate", "l_orderkey", "l_linenumber")]
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wprev = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sparse = F.when(F.col("l_quantity") >= 49.5, F.col("l_extendedprice"))
    return li.select(
        "l_returnflag",
        _seq(),
        round4(F.first("l_extendedprice").over(wcum)).alias("first_price"),
        round4(F.last("l_extendedprice").over(wall)).alias("last_price"),
        round4(F.nth_value("l_extendedprice", 3).over(wcum)).alias("third_price"),
        round4(F.last(sparse, ignorenulls=True).over(wprev)).alias("prev_big_price"),
    )


_register(
    "analytic_navigation",
    Query(
        spark=_navigation,
        sql=f"""
SELECT l_returnflag, {_SEQ_SQL} AS seq,
  {_r('first_value(l_extendedprice) OVER wcum', 'first_price')},
  {_r('last_value(l_extendedprice) OVER wall', 'last_price')},
  {_r('nth_value(l_extendedprice, 3) OVER wcum', 'third_price')},
  {_r(
      "last_value(CASE WHEN l_quantity >= 49.5 THEN l_extendedprice END "
      "IGNORE NULLS) OVER wprev",
      'prev_big_price',
  )}
FROM lineitem
WHERE l_quantity >= 48
WINDOW
  wcum AS (PARTITION BY l_returnflag
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  wall AS (PARTITION BY l_returnflag
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
  wprev AS (PARTITION BY l_returnflag
            ORDER BY l_shipdate, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""",
    ),
)


# --------------------------------------------------------------------- #
# Time-series gap filling (hourly grid + LOCF forward-fill)
# --------------------------------------------------------------------- #


def _gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: per event type, a dense hourly grid over
    the observed range with last-observation-carried-forward values.

    Scale shape: the grid is ``#types × #hours`` — generated from a
    one-row broadcast of the bounds, NEVER by resampling the fact table;
    the fill itself is one per-type window over the (small) grid after a
    left join that streams the hourly aggregate into it."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
        "value",
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.avg("value").alias("_v"), F.count(F.lit(1)).alias("_n")
    )
    bounds = hourly.agg(F.min("h").alias("_lo"), F.max("h").alias("_hi"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"), F.lit(3600))).alias("h"),
    )
    j = grid.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.col("h").alias("hour_epoch"),
        F.col("_n").isNotNull().alias("observed"),
        round4(F.last("_v", ignorenulls=True).over(w)).alias("v_filled"),
    )


_register(
    "gap_fill_hourly",
    Query(
        spark=_gap_fill,
        sql=f"""
WITH hourly AS (
  SELECT event_type,
    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
    avg(value) AS _v, count(*) AS _n
  FROM events GROUP BY 1, 2
),
b AS (SELECT min(h) AS _lo, max(h) AS _hi FROM hourly),
grid AS (
  SELECT t.event_type, CAST(g AS BIGINT) AS h
  FROM (SELECT DISTINCT event_type FROM events) t, b,
       LATERAL (SELECT unnest(generate_series(_lo, _hi, 3600)) AS g) s
)
SELECT grid.event_type, grid.h AS hour_epoch,
  hourly._n IS NOT NULL AS observed,
  {_r(
      "last_value(hourly._v IGNORE NULLS) OVER "
      "(PARTITION BY grid.event_type ORDER BY grid.h)",
      'v_filled',
  )}
FROM grid LEFT JOIN hourly
  ON grid.event_type = hourly.event_type AND grid.h = hourly.h""",
    ),
)


# --------------------------------------------------------------------- #
# Scale-safe global row numbering (bucketed enumeration, scale.py)
# --------------------------------------------------------------------- #


def _global_rownum_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous row_number over (ts, event_id) with NO single-task
    window: arithmetic time-bucketing + per-bucket ranks + broadcast
    prefix-sum offsets (scale.grouped_row_number with no group).
    event_id is unique, so the total order — and therefore the
    numbering — is deterministic."""
    from ..scale import grouped_row_number

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", F.unix_timestamp("ts").alias("_bkey")
    )
    out = grouped_row_number(
        ev, (), order_cols=("ts", "event_id"), buckets=32, bucket_by="_bkey"
    )
    return out.select("event_id", "rn")


_register(
    "analytic_global_rownum",
    Query(
        spark=_global_rownum_spark,
        sql="""
SELECT event_id,
  CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS rn
FROM events""",
    ),
)


# --------------------------------------------------------------------- #
# Per-group winsorization (quantile clipping — outlier taming)
# --------------------------------------------------------------------- #


def _winsorize_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip n_chars to each language's [p05, p95] band — the standard
    outlier-taming transform before statistics/training.

    Runs :func:`~indicators_spark.approx.winsorize_auto` with defaults,
    which under the no-free-count dispatch contract (r8) pins the EXACT
    per-group percentile bands the oracle replays — nothing is scanned
    just to pick a branch.  At 100 TB a caller passes ``n_rows`` from
    catalog stats (or ``min_rows=0``) to get t-digest bands instead; that
    sketch branch is pinned against this exact one in
    tests/test_approx.py::test_winsorize_auto_paths_agree.  Either way
    one tiny per-group agg broadcast-joins back; the data side never
    shuffles."""
    from ..approx import winsorize_auto

    docs = load_table(spark, sf_dir, "documents")
    out = winsorize_auto(docs, value="n_chars", group="lang")
    return out.select(
        "doc_id", "lang", round4(F.col("n_chars_winsor")).alias("n_chars_winsor")
    )


_register(
    "analytic_winsorize",
    Query(
        spark=_winsorize_spark,
        sql=f"""
WITH bands AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang,
  {_r('greatest(least(CAST(d.n_chars AS DOUBLE), b.hi), b.lo)', 'n_chars_winsor')}
FROM documents d JOIN bands b ON b.lang = d.lang""",
    ),
)


# --------------------------------------------------------------------- #
# Seasonal decomposition (trend / seasonal / residual) over hourly counts
# --------------------------------------------------------------------- #


def _seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the hourly event-count series
    per event_type: trend = centered 24-row moving average (gated to full
    windows), seasonal = mean detrended value per hour-of-day, residual =
    what's left — the anomaly-detection / forecasting baseline every
    metrics pipeline needs.

    All hour arithmetic is integer epoch math (``floor(epoch/3600)``) —
    no locale calendar, identical on both engines.  The trend window is
    ROW-based over the aggregated series (documented choice: with gap
    hours a range window would differ); the aggregated series is
    #hours × #types rows, so the three window passes cost nothing next to
    the one fact-table aggregation."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_id"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("hour_id")
        .rowsBetween(-11, 12)
    )
    trended = hourly.withColumn(
        "trend",
        F.when(F.count(F.lit(1)).over(wt) == 24, F.avg("y").over(wt)),
    ).withColumn("hod", F.col("hour_id") % 24)
    ws = Window.partitionBy("event_type", "hod")
    out = trended.withColumn(
        "seasonal", F.avg(F.col("y") - F.col("trend")).over(ws)
    ).withColumn(
        "resid", F.col("y") - F.col("trend") - F.col("seasonal")
    )
    return out.select(
        "event_type",
        "hour_id",
        "y",
        round4(F.col("trend")).alias("trend"),
        round4(F.col("seasonal")).alias("seasonal"),
        round4(F.col("resid")).alias("resid"),
    )


_register(
    "analytic_seasonal_decompose",
    Query(
        spark=_seasonal_decompose,
        sql=f"""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id, event_type,
    count(*) AS y
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT *,
    CASE WHEN count(*) OVER w24 = 24 THEN avg(y) OVER w24 END AS trend,
    hour_id % 24 AS hod
  FROM hourly
  WINDOW w24 AS (PARTITION BY event_type ORDER BY hour_id
                 ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
),
s AS (
  SELECT *,
    avg(y - trend) OVER (PARTITION BY event_type, hod) AS seasonal
  FROM t
)
SELECT event_type, hour_id, y,
  {_r('trend', 'trend')},
  {_r('seasonal', 'seasonal')},
  {_r('y - trend - seasonal', 'resid')}
FROM s""",
    ),
)


# --------------------------------------------------------------------- #
# Equi-depth histogram (exact quartile breakpoints) + chi-square test
# --------------------------------------------------------------------- #


def _histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: buckets hold ~equal row counts, with
    quartile breakpoints (the optimizer-statistics dual of the
    equal-width `analytic_histogram`).  Runs
    :func:`~indicators_spark.approx.histogram_equidepth_auto` with
    defaults, which under the no-free-count dispatch contract (r8) pins
    the EXACT interpolated breakpoints the oracle replays; at 100 TB a
    caller passes ``n_rows`` from catalog stats (or ``min_rows=0``) for
    t-digest breakpoints — that branch is pinned against this one in
    tests/test_approx.py::test_histogram_equidepth_auto_paths.  3 scalars
    broadcast back either way; bucket assignment is a codegen'd
    comparison sum, so the fact table is scanned twice but never
    shuffled wide."""
    from ..approx import histogram_equidepth_auto

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    out = histogram_equidepth_auto(li, "l_extendedprice")
    return out.select("bucket", "n", round4(F.col("avg_v")).alias("avg_price"))


_register(
    "analytic_histogram_equidepth",
    Query(
        spark=_histogram_equidepth,
        sql=f"""
WITH q AS (
  SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.5) AS q2,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem
)
SELECT
  (CAST(l_extendedprice > q1 AS INT) + CAST(l_extendedprice > q2 AS INT)
   + CAST(l_extendedprice > q3 AS INT)) AS bucket,
  count(*) AS n, {_r('avg(l_extendedprice)', 'avg_price')}
FROM lineitem, q GROUP BY 1""",
    ),
)


def _chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the lang × source
    contingency table — "is language mix independent of ingest feed?", the
    one-number screen before per-source corpus debugging.  Observed and
    marginal counts are three skinny groupBys on an already-aggregated
    table; the cell-term sum is |langs|·|sources| rows — nothing at scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rl = obs.groupBy("lang").agg(F.sum("o").alias("rl"))
    cs = obs.groupBy("source").agg(F.sum("o").alias("cs"))
    n = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(F.broadcast(rl), "lang")
        .join(F.broadcast(cs), "source")
        .crossJoin(F.broadcast(n))
    )
    e = F.col("rl").cast("double") * F.col("cs") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    return j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).alias("dof"),
        round4(F.sum(term)).alias("chi2"),
    )


_register(
    "analytic_chi_square",
    Query(
        spark=_chi_square,
        sql=f"""
WITH obs AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
),
rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rl FROM obs GROUP BY 1),
cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM obs GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
j AS (
  SELECT obs.o, rl.rl, cs.cs, n.n
  FROM obs JOIN rl USING (lang) JOIN cs USING (source) CROSS JOIN n
),
t AS (
  SELECT o,
    (o - CAST(rl AS DOUBLE) * cs / n) * (o - CAST(rl AS DOUBLE) * cs / n)
      / (CAST(rl AS DOUBLE) * cs / n) AS term
  FROM j
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
  CAST((SELECT count(DISTINCT lang) FROM documents) - 1 AS BIGINT)
    * CAST((SELECT count(DISTINCT source) FROM documents) - 1 AS BIGINT) AS dof,
  {_r('sum(term)', 'chi2')}
FROM t""",
    ),
)


# --------------------------------------------------------------------- #
# Join-key skew profile (the pre-shuffle salting/AQE diagnostic)
# --------------------------------------------------------------------- #

SKEW_TOPK = 20


def _skew_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scale import profile_key_skew

    orders = load_table(spark, sf_dir, "orders")
    p = profile_key_skew(orders, key="o_custkey", top_k=SKEW_TOPK)
    return p.select(
        "key_value",
        "n_rows",
        round4(F.col("share")).alias("share"),
        round4(F.col("skew_factor")).alias("skew_factor"),
        "rank",
    )


_register(
    "profile_key_skew_orders",
    Query(
        spark=_skew_spark,
        sql=f"""
WITH per_key AS (
  SELECT CAST(o_custkey AS VARCHAR) AS key_value,
    CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
),
tot AS (
  SELECT sum(n_rows) AS total, count(*) AS nkeys FROM per_key
),
top AS (
  SELECT key_value, n_rows,
    row_number() OVER (ORDER BY n_rows DESC, key_value) AS rank
  FROM per_key ORDER BY n_rows DESC, key_value LIMIT {SKEW_TOPK}
)
SELECT t.key_value, t.n_rows,
  {_r('CAST(t.n_rows AS DOUBLE) / tot.total', 'share')},
  {_r('CAST(t.n_rows AS DOUBLE) * tot.nkeys / tot.total', 'skew_factor')},
  CAST(t.rank AS BIGINT) AS rank
FROM top t, tot""",
    ),
)


# --------------------------------------------------------------------- #
# Distributed exact weighted quantiles (two-pass, no global sort)
# --------------------------------------------------------------------- #

WQ_QS = (0.25, 0.5, 0.75)


def _wq_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scale import weighted_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    wq = weighted_quantiles(
        li,
        group="l_returnflag",
        value="l_extendedprice",
        weight="l_quantity",
        qs=WQ_QS,
    )
    return wq.select(
        "l_returnflag",
        *[round4(F.col(f"wq{int(q * 100)}")).alias(f"wq{int(q * 100)}") for q in WQ_QS],
    )


_register(
    "analytic_weighted_quantiles",
    Query(
        spark=_wq_spark,
        sql=f"""
WITH cum AS (
  SELECT l_returnflag, l_extendedprice,
    sum(l_quantity) OVER (
      PARTITION BY l_returnflag ORDER BY l_extendedprice
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cw,
    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT l_returnflag,
  {', '.join(
    _r(f'min(CASE WHEN cw >= {q} * tw THEN l_extendedprice END)', f'wq{int(q * 100)}')
    for q in WQ_QS
  )}
FROM cum GROUP BY l_returnflag""",
    ),
)


# --------------------------------------------------------------------- #
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005)
# --------------------------------------------------------------------- #

CMS_K, CMS_SEED = 20, "cms"


def _cms_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import sketches

    toks = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    )
    return sketches.cms_topk(toks, "tok", k=CMS_K, seed=CMS_SEED)


def _cms_sql() -> str:
    from ..functions import sketches as S

    def bkt(j: str, v: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{CMS_SEED}', "
            f"CAST({j} AS VARCHAR), '|', {v})), 1, 8)) AS UBIGINT)"
            f" % {S.CMS_W}"
        )

    return f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS v
  FROM documents WHERE text IS NOT NULL
),
jj AS (SELECT unnest(generate_series(0, {S.CMS_D - 1})) AS j),
counters AS (
  SELECT j, {bkt('j', 'v')} AS b, count(*) AS cnt
  FROM tok, jj GROUP BY 1, 2
),
cand AS (SELECT v, count(*) AS true_cnt FROM tok GROUP BY v),
probe AS (
  SELECT cand.v, cand.true_cnt, min(c.cnt) AS est
  FROM cand, jj
  JOIN counters c ON c.j = jj.j AND c.b = {bkt('jj.j', 'cand.v')}
  GROUP BY 1, 2
)
SELECT CAST(row_number() OVER (ORDER BY est DESC, v) AS BIGINT) AS rank,
  v AS token, CAST(est AS BIGINT) AS est,
  CAST(true_cnt AS BIGINT) AS true_cnt
FROM probe ORDER BY est DESC, v LIMIT {CMS_K}"""


_register(
    "stats_cms_topk",
    Query(spark=_cms_spark, sql=_cms_sql()),
)


# --------------------------------------------------------------------- #
# Error audits for the two NON-replayable sketch estimators behind
# :mod:`~indicators_spark.approx`.  ``percentile_approx`` (t-digest) and
# ``approx_count_distinct`` (HLL) cannot hash-match a DuckDB oracle
# directly — DuckDB has no replay of Spark's digests.  These queries take
# the ``similarity_ivf_recall`` shape: each engine computes BOTH its own
# sketch estimate and the exact value in the same query and emits a
# tolerance-band VERDICT it derives independently; the verdicts (and the
# exact values) hash-match even though the raw estimates differ.  The
# bands are deliberately generous multiples of each estimator's error
# guarantee, so a verdict flip means the estimator is broken, not noisy.
# The exact side is what makes this an AUDIT: at 100 TB you run it
# periodically or on a sampled slice (the shape is unchanged), while
# production queries run the sketch branch alone.
#
# HLL audit: approx_count_distinct vs exact, per group
# --------------------------------------------------------------------- #

#: relative tolerance of the HLL verdict.  Spark runs the sketch at
#: rsd = DISTINCT_RSD = 0.01 (→ 0.10 is a 10σ band); DuckDB's
#: approx_count_distinct standard error is ~1.6% at default precision
#: (→ ≥6σ).  Either estimator drifting outside the band is a defect,
#: not sampling noise.
HLL_AUDIT_TOL = 0.10


def _hll_audit_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives approx.py's AT-SCALE HLL branch (``count_distinct_auto``
    with the branch pinned via ``min_rows=0``) under the full driver
    gate: per ``l_returnflag``, the exact distinct ``l_partkey`` count
    (hash-compared) plus the band verdict ``|hll − exact| ≤ tol·exact``
    (hash-compared; the raw HLL estimate itself never leaves the
    query).  One grouped aggregate — the exact distinct costs the usual
    expand, the HLL rides the same exchange with O(KB) state."""
    from ..approx import DISTINCT_RSD, count_distinct_auto

    li = load_table(spark, sf_dir, "lineitem")
    exact = F.count_distinct(F.col("l_partkey"))
    apx = count_distinct_auto("l_partkey", n_rows=1, min_rows=0, rsd=DISTINCT_RSD)
    return li.groupBy("l_returnflag").agg(
        exact.cast("long").alias("n_exact"),
        (
            F.abs(apx.cast("double") - exact.cast("double"))
            <= F.lit(HLL_AUDIT_TOL) * exact.cast("double")
        ).alias("hll_ok"),
    )


_HLL_AUDIT_SQL = f"""
SELECT l_returnflag,
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
  (abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
       - CAST(count(DISTINCT l_partkey) AS DOUBLE))
     <= {HLL_AUDIT_TOL} * CAST(count(DISTINCT l_partkey) AS DOUBLE)) AS hll_ok
FROM lineitem GROUP BY l_returnflag"""


_register(
    "stats_hll_audit", Query(spark=_hll_audit_spark, sql=_HLL_AUDIT_SQL)
)


# --------------------------------------------------------------------- #
# t-digest audit: percentile_approx vs an exact rank band
# --------------------------------------------------------------------- #

TD_AUDIT_QS = (0.25, 0.5, 0.75, 0.95)
#: rank half-width of the acceptance band: the sketch value must land
#: inside [P(q−δ), P(q+δ)].  Spark's percentile_approx guarantees rank
#: error ≤ 1/accuracy = 1e-4 (δ is 100× that); DuckDB's t-digest
#: approx_quantile is comparably tight.  Outside the band = broken.
TD_AUDIT_DELTA = 0.01
TD_AUDIT_COL = "l_extendedprice"


def _td_audit_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives approx.py's AT-SCALE t-digest branch (``percentile_auto``
    pinned via ``min_rows=0``): one global aggregate computes, per
    audited quantile, the exact percentile (hash-compared at 4dp) and
    the exact band edges P(q±δ), plus the sketch estimate — emitted
    only as the verdict ``lo ≤ sketch ≤ hi``.  All 4·|qs| aggregates
    ride ONE pass (partial-agg + 1-row merge); the explode at the end
    reshapes the single row to (q, exact, within_band) rows."""
    from ..approx import percentile_auto

    li = load_table(spark, sf_dir, "lineitem")
    c = TD_AUDIT_COL
    aggs = []
    for i, q in enumerate(TD_AUDIT_QS):
        lo_q = max(q - TD_AUDIT_DELTA, 0.0)
        hi_q = min(q + TD_AUDIT_DELTA, 1.0)
        aggs += [
            F.percentile(F.col(c), F.lit(float(q))).alias(f"_e{i}"),
            F.percentile(F.col(c), F.lit(lo_q)).alias(f"_lo{i}"),
            F.percentile(F.col(c), F.lit(hi_q)).alias(f"_hi{i}"),
            percentile_auto(c, q, n_rows=1, min_rows=0).alias(f"_a{i}"),
        ]
    one = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(float(q)).alias("q"),
            round4(F.col(f"_e{i}")).alias("exact"),
            (
                (F.col(f"_lo{i}") <= F.col(f"_a{i}"))
                & (F.col(f"_a{i}") <= F.col(f"_hi{i}"))
            ).alias("within_band"),
        )
        for i, q in enumerate(TD_AUDIT_QS)
    ]
    return one.select(F.explode(F.array(*structs)).alias("r")).select(
        "r.q", "r.exact", "r.within_band"
    )


def _td_audit_sql() -> str:
    c = TD_AUDIT_COL
    cols, rows = [], []
    for i, q in enumerate(TD_AUDIT_QS):
        lo_q = max(q - TD_AUDIT_DELTA, 0.0)
        hi_q = min(q + TD_AUDIT_DELTA, 1.0)
        cols += [
            f"quantile_cont({c}, {q!r}) AS e{i}",
            f"quantile_cont({c}, {lo_q!r}) AS lo{i}",
            f"quantile_cont({c}, {hi_q!r}) AS hi{i}",
            f"approx_quantile({c}, {q!r}) AS a{i}",
        ]
        rows.append(
            f"SELECT CAST({q!r} AS DOUBLE) AS q, {_r(f'e{i}', 'exact')},"
            f" (lo{i} <= a{i} AND a{i} <= hi{i}) AS within_band FROM a"
        )
    return (
        "WITH a AS (SELECT "
        + ", ".join(cols)
        + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(rows)
    )


_register(
    "stats_tdigest_audit", Query(spark=_td_audit_spark, sql=_td_audit_sql())
)


# --------------------------------------------------------------------- #
# Compression-ratio audit (the per-engine-verdict twin of the sql=None
# `text_compression_ratio`).  `text_compression_ratio` can never
# hash-match a DuckDB oracle (no zlib in SQL), so — exactly like the
# HLL/t-digest audits — this query derives a tolerance-band VERDICT
# each engine can reach independently: Spark builds three DETERMINISTIC
# payload classes per document (pure md5 arithmetic), runs the real
# zlib pandas-UDF over them, and asserts each class's analytically
# known ratio band; the oracle emits the same one-row expectation from
# the same table.  A verdict flip means the UDF (null routing, batch
# handling, zlib semantics) broke — not noise: the bands sit ≥5× from
# the measured ratios (repeat ~0.007 vs <0.05; hex ~0.56 in (0.4,0.8);
# doubled ~0.29 < hex per doc, the x||x < 2·x compressibility law).
# tests/test_oracle_parity_r9.py pins the full driver-style compare.
# --------------------------------------------------------------------- #

CR_REPEAT_MAX = 0.05
CR_HEX_LO, CR_HEX_HI = 0.40, 0.80


def _compress_audit_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id").isNotNull()
    )
    hexp = F.concat(
        *[
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"|{i}")))
            for i in range(32)
        ]
    )
    base = (
        docs.withColumn("_hex", hexp)
        .withColumn("_rep", F.repeat(F.substring(F.col("_hex"), 1, 1), 4096))
        .withColumn("_dbl", F.concat(F.col("_hex"), F.col("_hex")))
    )
    # three row-local UDF passes (Arrow-batched, zero shuffle), then one
    # 1-row global verdict aggregate
    for col, out in (("_rep", "r_rep"), ("_hex", "r_hex"), ("_dbl", "r_dbl")):
        base = T.with_compression_ratio(base, text_col=col).withColumnRenamed(
            "compression_ratio", out
        )
    return base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.every(F.col("r_rep") < F.lit(CR_REPEAT_MAX)).alias("repeat_ok"),
        F.every(
            (F.col("r_hex") > F.lit(CR_HEX_LO))
            & (F.col("r_hex") < F.lit(CR_HEX_HI))
        ).alias("hex_ok"),
        F.every(F.col("r_dbl") < F.col("r_hex")).alias("doubled_lt_hex"),
    )


_COMPRESS_AUDIT_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  TRUE AS repeat_ok, TRUE AS hex_ok, TRUE AS doubled_lt_hex
FROM documents WHERE doc_id IS NOT NULL"""


_register(
    "audit_compression_ratio",
    Query(spark=_compress_audit_spark, sql=_COMPRESS_AUDIT_SQL),
)


# --------------------------------------------------------------------- #
# Per-source KS drift — REGISTERED r10.  The numeric
# counterpart of `text_kl_sources`: two-sample Kolmogorov–Smirnov of
# each source's n_chars distribution against the pooled corpus, the
# standard nightly drift alarm.  Exact (no sketch), and every stage
# after the one (source, value) cell aggregate is cell-table sized —
# see functions/drift.py for the 100 TB shape (pre-bucket continuous
# columns).  Local parity pinned in tests/test_oracle_parity_r9.py.
# --------------------------------------------------------------------- #

def _ks_drift_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.drift import ks_drift_by_group

    docs = load_table(spark, sf_dir, "documents")
    # default verdict = the real α=0.05 KS test (critical value scales
    # with group size), so the drifted flag means something at any sf
    return ks_drift_by_group(docs, value_col="n_chars", group_col="source")


_KS_DRIFT_SQL = f"""
WITH base AS (
  SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
),
cell AS (SELECT g, v, count(*) AS c FROM base GROUP BY g, v),
val AS (
  SELECT v, sum(c) AS cv,
    sum(sum(c)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_all
  FROM cell GROUP BY v
),
grp AS (SELECT g, sum(c) AS n FROM cell GROUP BY g),
tot AS (SELECT sum(cv) AS tot FROM val),
grid AS (
  SELECT grp.g, grp.n, tot.tot, val.v, val.cum_all, COALESCE(cell.c, 0) AS c
  FROM val CROSS JOIN grp CROSS JOIN tot
  LEFT JOIN cell ON cell.g = grp.g AND cell.v = val.v
),
cum AS (
  SELECT g, n, tot, cum_all,
    sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_g
  FROM grid
),
d AS (
  SELECT g, n, tot,
    max(abs(CAST(cum_g AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(cum_all AS DOUBLE) / CAST(tot AS DOUBLE))) AS d_raw
  FROM cum GROUP BY g, n, tot
)
SELECT g AS source, CAST(n AS BIGINT) AS n,
  floor(d_raw * 1e4 + 0.500000001) / 1e4 AS ks_d,
  d_raw > {KS_C_ALPHA_05} * sqrt(CAST(n + tot AS DOUBLE)
    / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))) AS drifted
FROM d"""


_register("stats_ks_drift", Query(spark=_ks_drift_spark, sql=_KS_DRIFT_SQL))


# --------------------------------------------------------------------- #
# Per-source PSI drift.  The scorecard/
# model-monitoring counterpart of `stats_ks_drift`: Population
# Stability Index of each source's n_chars distribution against the
# pooled corpus over the pool's decile bands, with the industry 0.2
# drift cut (functions/drift.py:psi_drift_by_group for semantics and
# the 100 TB shape).  Local parity pinned in
# tests/test_oracle_parity_r10.py; plan pinned in tests/test_plans_r10.py.
# --------------------------------------------------------------------- #

PSI_BINS = 10


def _psi_drift_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.drift import psi_drift_by_group

    docs = load_table(spark, sf_dir, "documents")
    return psi_drift_by_group(
        docs, value_col="n_chars", group_col="source", bins=PSI_BINS
    )


def _psi_drift_sql(bins: int = PSI_BINS) -> str:
    from ..functions.drift import PSI_DRIFT_THRESHOLD
    from ..functions.sampling import edge_q4_sql

    fracs = [i / bins for i in range(1, bins)]
    e_cols = ", ".join(
        f"{edge_q4_sql(f'quantile_cont(v, {q})')} AS e{i}"
        for i, q in enumerate(fracs, 1)
    )
    bucket = " + ".join(f"CAST(v > e{i} AS INT)" for i in range(1, bins))
    return f"""
WITH base AS (
  SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
),
e AS (SELECT {e_cols} FROM base),
cell AS (
  SELECT g, ({bucket}) AS b, count(*) AS c FROM base, e GROUP BY g, 2
),
grp AS (SELECT g, sum(c) AS n FROM cell GROUP BY g),
poolb AS (SELECT b, sum(c) AS cp FROM cell GROUP BY b),
scal AS (SELECT sum(cp) AS tot, count(*) AS nb FROM poolb),
grid AS (
  SELECT grp.g, grp.n, poolb.b, poolb.cp, scal.tot, scal.nb,
    COALESCE(cell.c, 0) AS c
  FROM poolb CROSS JOIN grp CROSS JOIN scal
  LEFT JOIN cell ON cell.g = grp.g AND cell.b = poolb.b
),
terms AS (
  SELECT g, n,
    CAST(c + 1 AS DOUBLE) / CAST(n + nb AS DOUBLE) AS pg,
    CAST(cp + 1 AS DOUBLE) / CAST(tot + nb AS DOUBLE) AS pp
  FROM grid
),
psi AS (
  -- terms snapped to the 1e-9 integer grid before the sum: integer
  -- addition is order-free, so the statistic cannot depend on either
  -- engine's accumulation order (mirrors psi_drift_by_group)
  SELECT g, n,
    CAST(sum(floor((pg - pp) * ln(pg / pp) * 1e9 + 0.500000001))
         AS DOUBLE) / 1e9 AS psi_raw
  FROM terms GROUP BY g, n
)
SELECT g AS source, CAST(n AS BIGINT) AS n,
  floor(psi_raw * 1e4 + 0.500000001) / 1e4 AS psi,
  psi_raw > {PSI_DRIFT_THRESHOLD} AS drifted
FROM psi"""


_register(
    "stats_psi_drift",
    Query(spark=_psi_drift_spark, sql=_psi_drift_sql()),
)


# --------------------------------------------------------------------- #
# Exact global order statistics by iterative range refinement.  Driver
# evidence for `scale.kth_element` (see
# its docstring: selection without a global sort and without buffering
# values in an aggregation buffer, the way Spark's exact `percentile`
# does).  The oracle states pure ORDER-STATISTIC semantics (row_number
# over the sorted column at integer ranks) — no algorithm replay needed,
# so there is no cross-engine float surface at all: the k-th value IS
# the data.  `final_rows` is set low so the sf0.01 run genuinely
# exercises ≥ 1 histogram-refinement pass before the residue aggregate.
# --------------------------------------------------------------------- #


def _median_selection_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..scale import kth_elements

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    # multi-rank form (VERDICT r12 #2): the eager count folds into the
    # kernel's bounds pass, and median + p90 refine in SHARED histogram
    # scans — frac targets resolve to exactly the oracle's (n+1)//2 and
    # (9n+9)//10 ranks via the kernel's integer-rational ceil
    n, res = kth_elements(
        li, "l_extendedprice", fracs=[0.5, 0.9], final_rows=4096
    )
    row = spark.createDataFrame(
        [(n, float(res[0.5]), float(res[0.9]))],
        "n long, median double, p90 double",
    )
    return row.select(
        F.col("n"),
        round4(F.col("median")).alias("median"),
        round4(F.col("p90")).alias("p90"),
    )


def _median_selection_sql() -> str:
    return f"""
WITH v AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
n AS (SELECT count(*) AS n FROM v),
r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
SELECT CAST(n.n AS BIGINT) AS n,
  {_r("(SELECT x FROM r WHERE rn = (n.n + 1) // 2)", "median")},
  {_r("(SELECT x FROM r WHERE rn = (9 * n.n + 9) // 10)", "p90")}
FROM n"""


_register(
    "analytic_median_selection",
    Query(spark=_median_selection_spark, sql=_median_selection_sql()),
)


# --------------------------------------------------------------------- #
# Per-group exact median by simultaneous range refinement.  Driver
# evidence for `scale.kth_element_by_group`:
# exact lower median of l_extendedprice per l_returnflag, all groups
# refined in shared passes (one (group,bucket) histogram scan per round
# for EVERY unresolved group — a thousand sources cost the same scans
# as one).  Pure order-statistic oracle again: no algorithm replay, no
# cross-engine float surface.
# --------------------------------------------------------------------- #


def _group_median_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..scale import kth_element_by_group

    li = load_table(spark, sf_dir, "lineitem")
    out = kth_element_by_group(
        li, "l_extendedprice", "l_returnflag", frac=0.5, final_rows=4096
    )
    return out.select(
        F.col("l_returnflag"),
        F.col("n"),
        F.col("k"),
        round4(F.col("value")).alias("median"),
    )


def _group_median_sql() -> str:
    return f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
),
r AS (
  SELECT g, x,
    row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM v
)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
  CAST((n + 1) // 2 AS BIGINT) AS k, {_r("x", "median")}
FROM r WHERE rn = (n + 1) // 2"""


_register(
    "analytic_group_median_selection",
    Query(spark=_group_median_spark, sql=_group_median_sql()),
)


# --------------------------------------------------------------------- #
# Per-source robust scaling (median/MAD z-scores).
# `sampling.robust_scale_by_group` composes TWO passes of
# the grouped selection kernel (median, then median absolute deviation)
# — both exact order statistics, so the score expression replays
# bit-for-bit in SQL with no interpolation surface.  Same 1.4826·MAD
# convention and ÷0→NULL policy as the registered `events_anomaly_mad`.
# --------------------------------------------------------------------- #


def _robust_scale_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.sampling import robust_scale_by_group

    docs = load_table(spark, sf_dir, "documents")
    out = robust_scale_by_group(
        docs, value_col="n_chars", group_col="source", key_col="doc_id"
    )
    return out.select(
        "doc_id",
        "source",
        F.col("_v").cast("long").alias("n_chars"),
        round4(F.col("_rz")).alias("rz"),
    )


def _robust_scale_sql() -> str:
    from ..functions.sampling import MAD_SIGMA

    return f"""
WITH v AS (
  SELECT doc_id, source AS g, CAST(n_chars AS DOUBLE) AS x
  FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL AND doc_id IS NOT NULL
),
r1 AS (
  SELECT g, x,
    row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM v
),
med AS (SELECT g, x AS med FROM r1 WHERE rn = (n + 1) // 2),
d AS (
  SELECT v.doc_id, v.g, v.x, med.med, abs(v.x - med.med) AS ad
  FROM v JOIN med USING (g)
),
r2 AS (
  SELECT g, ad,
    row_number() OVER (PARTITION BY g ORDER BY ad) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM d
),
mad AS (SELECT g, ad AS mad FROM r2 WHERE rn = (n + 1) // 2)
SELECT d.doc_id, d.g AS source, CAST(d.x AS BIGINT) AS n_chars,
  {_r(f"(d.x - d.med) / NULLIF({MAD_SIGMA} * mad.mad, 0)", "rz")}
FROM d JOIN mad USING (g)"""


_register(
    "analytic_robust_scale",
    Query(spark=_robust_scale_spark, sql=_robust_scale_sql()),
)


# --------------------------------------------------------------------- #
# HLL rollup audit — the per-engine-verdict twin of `stats_hll_rollup`.
#
# What the verdict certifies that `stats_hll_audit` (flat per-group HLL)
# does not: the UNION path.  The ALL row's estimate comes from
# `hll_union_agg` over the 30 stored daily sketch blobs — the
# compute-once/rollup-forever property that is the whole point of the
# sketch table at 100 TB — and the audit asserts that unioned estimate
# lands within band of the exact global distinct, alongside each daily
# sketch vs its exact count.  DuckDB derives its verdicts from its own
# approx_count_distinct (a direct sketch of the same union of inputs —
# the estimate target is identical even though the sketch family
# isn't); the exact counts hash-match literally, the verdicts must both
# be `true`.
#
# Day key: TZ-independent epoch-day rendered as a string (the driver's
# session may not be UTC — the `_utc_cutoff` precedent in the ext family)
# so the 'ALL' union row shares the column type.  NULL-ts rows are
# excluded on BOTH sides: a NULL day group would survive DuckDB's GROUP
# BY but drop out of Spark's null-rejecting equijoin against the exact
# side, a silent row-count mismatch (no NULL ts in the synthetic data —
# the filter is belt-and-braces for real feeds).
#
# Band: lgk=12 → rsd ≈ 1.04/√4096 ≈ 1.6%, so 0.10 is ~6σ; DuckDB's
# default-precision standard error is also ~1.6%.  A flipped verdict is
# a broken estimator or a broken union, not noise.  The exact side
# re-reads the facts — that is what makes it an AUDIT: run periodically
# or on a sampled slice at scale while production rolls up sketch blobs
# alone (the contract stated on stats_hll_audit above).
# --------------------------------------------------------------------- #

HLL_ROLLUP_TOL = 0.10


def _hll_rollup_audit_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketches import hll_distinct_rollup

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = (
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").cast("string")
    )
    rolled = hll_distinct_rollup(ev, day_col=day)
    exact_day = ev.groupBy(day.alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    exact_all = ev.agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    ).select(F.lit("ALL").alias("day"), "n_exact")
    exact = exact_day.unionByName(exact_all)
    return rolled.join(exact, "day").select(
        "day",
        "n_exact",
        (
            F.abs(
                F.col("approx_distinct").cast("double")
                - F.col("n_exact").cast("double")
            )
            <= F.lit(HLL_ROLLUP_TOL) * F.col("n_exact").cast("double")
        ).alias("hll_ok"),
    )


_HLL_ROLLUP_AUDIT_SQL = f"""
WITH ev AS (
  SELECT CAST(CAST(floor(epoch(ts) / 86400) AS BIGINT) AS VARCHAR) AS day,
    user_id
  FROM events WHERE ts IS NOT NULL
),
per AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
    CAST(approx_count_distinct(user_id) AS DOUBLE) AS est
  FROM ev GROUP BY day
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT),
    CAST(approx_count_distinct(user_id) AS DOUBLE)
  FROM ev
)
SELECT day, n_exact,
  abs(est - CAST(n_exact AS DOUBLE))
    <= {HLL_ROLLUP_TOL} * CAST(n_exact AS DOUBLE) AS hll_ok
FROM per"""


_register(
    "stats_hll_rollup_audit",
    Query(spark=_hll_rollup_audit_spark, sql=_HLL_ROLLUP_AUDIT_SQL),
)


# --------------------------------------------------------------------- #
# Weighted exact selection.  Driver evidence for
# `scale.kth_element_weighted` (see its docstring: Spark has no exact
# weighted percentile, and the relational cumulative-weight form pays a
# SinglePartition sort): quantity-weighted median and p90 of
# l_extendedprice — every unit of quantity counts as one observation of
# its line's price.  Integral weights make the weight sums exact and
# accumulation-order-free, so the oracle is a pure ORDER-STATISTIC
# replay (cumulative-weight window at integer ranks) with zero
# cross-engine float surface, the `analytic_median_selection` contract.
# Local parity pinned at both SFs in tests/test_oracle_parity_r12.py;
# kernel brute-force/ties/guards/hypothesis pins in
# tests/test_weighted_selection.py.
# --------------------------------------------------------------------- #


def _weighted_median_selection_spark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from ..scale import kth_elements_weighted
    from ..sources.prices import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    # multi-rank form (VERDICT r12 #2): the former eager total-weight
    # agg folds into the kernel's bounds pass, and the token-weighted
    # median + p90 refine in SHARED histogram scans; frac targets
    # resolve to exactly the oracle's (W+1)//2 and (9W+9)//10 ranks
    total, res = kth_elements_weighted(
        li, "l_extendedprice", "l_quantity", fracs=[0.5, 0.9],
        final_rows=4096,
    )
    row = spark.createDataFrame(
        [(total, float(res[0.5]), float(res[0.9]))],
        "total_w long, wmedian double, wp90 double",
    )
    return row.select(
        "total_w",
        round4(F.col("wmedian")).alias("wmedian"),
        round4(F.col("wp90")).alias("wp90"),
    )


def _weighted_median_selection_sql() -> str:
    return f"""
WITH v AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
    CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
tot AS (SELECT sum(w) AS tw FROM v),
r AS (SELECT x, sum(w) OVER (ORDER BY x) AS cw FROM v)
SELECT CAST(tot.tw AS BIGINT) AS total_w,
  {_r("(SELECT min(x) FROM r WHERE cw >= (tot.tw + 1) // 2)", "wmedian")},
  {_r("(SELECT min(x) FROM r WHERE cw >= (9 * tot.tw + 9) // 10)", "wp90")}
FROM tot"""


def _group_weighted_median_spark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source weighted median: the grouped composition (`scale.kth_element_by_group_weighted`),
    quantity-weighted median l_extendedprice per l_returnflag.  Same
    zero-float-surface order-statistic oracle as the global form."""
    from pyspark.sql import functions as F

    from ..scale import kth_element_by_group_weighted
    from ..sources.prices import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = kth_element_by_group_weighted(
        li,
        "l_extendedprice",
        "l_quantity",
        "l_returnflag",
        frac=0.5,
        final_rows=4096,
    )
    return out.select(
        "l_returnflag",
        "total_w",
        "wk",
        round4(F.col("value")).alias("wmedian"),
    )


def _group_weighted_median_sql() -> str:
    return f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x,
    CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_returnflag IS NOT NULL
),
t AS (SELECT g, sum(w) AS tw FROM v GROUP BY g),
r AS (SELECT g, x, sum(w) OVER (PARTITION BY g ORDER BY x) AS cw FROM v)
SELECT t.g AS l_returnflag, CAST(t.tw AS BIGINT) AS total_w,
  CAST((t.tw + 1) // 2 AS BIGINT) AS wk,
  {_r(
      "(SELECT min(x) FROM r WHERE r.g = t.g AND cw >= (t.tw + 1) // 2)",
      "wmedian",
  )}
FROM t"""


_register(
    "analytic_weighted_median_selection",
    Query(
        spark=_weighted_median_selection_spark,
        sql=_weighted_median_selection_sql(),
    ),
)
_register(
    "analytic_group_weighted_median",
    Query(
        spark=_group_weighted_median_spark,
        sql=_group_weighted_median_sql(),
    ),
)


def _group_weighted_tail_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantity-weighted p90 AND p99 of l_extendedprice via
    the ``frac`` form: each group's weight rank is the exact integer
    ``ceil(frac·W_g)`` (= the oracle's ``(9·W+9)//10`` and
    ``(99·W+99)//100``), taken from the engine's own per-group stats
    pass, and each tail refines ALL groups in shared histogram passes.
    This is the gate shape curation pipelines run per source ("drop a
    source's docs above its token-weighted p99 length")."""
    from pyspark.sql import functions as F

    from ..scale import kth_element_by_group_weighted
    from ..sources.prices import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    p90 = kth_element_by_group_weighted(
        li, "l_extendedprice", "l_quantity", "l_returnflag",
        frac=0.9, final_rows=4096,
    ).select(
        "l_returnflag",
        "total_w",
        F.col("wk").alias("wk90"),
        F.col("value").alias("_p90"),
    )
    p99 = kth_element_by_group_weighted(
        li, "l_extendedprice", "l_quantity", "l_returnflag",
        frac=0.99, final_rows=4096,
    ).select(
        "l_returnflag",
        F.col("wk").alias("wk99"),
        F.col("value").alias("_p99"),
    )
    return p90.join(p99, "l_returnflag").select(
        "l_returnflag",
        "total_w",
        "wk90",
        round4(F.col("_p90")).alias("wp90"),
        "wk99",
        round4(F.col("_p99")).alias("wp99"),
    )


def _group_weighted_tail_sql() -> str:
    return f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x,
    CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_returnflag IS NOT NULL
),
t AS (SELECT g, sum(w) AS tw FROM v GROUP BY g),
r AS (SELECT g, x, sum(w) OVER (PARTITION BY g ORDER BY x) AS cw FROM v)
SELECT t.g AS l_returnflag, CAST(t.tw AS BIGINT) AS total_w,
  CAST((9 * t.tw + 9) // 10 AS BIGINT) AS wk90,
  {_r(
      "(SELECT min(x) FROM r WHERE r.g = t.g "
      "AND cw >= (9 * t.tw + 9) // 10)",
      "wp90",
  )},
  CAST((99 * t.tw + 99) // 100 AS BIGINT) AS wk99,
  {_r(
      "(SELECT min(x) FROM r WHERE r.g = t.g "
      "AND cw >= (99 * t.tw + 99) // 100)",
      "wp99",
  )}
FROM t"""


_register(
    "analytic_group_weighted_tail",
    Query(spark=_group_weighted_tail_spark, sql=_group_weighted_tail_sql()),
)
