"""Deterministic sampling and dataset-composition operators for
training-data pipelines.

Spark's built-in ``df.sample`` is seeded per-partition, so its row set
changes with the physical partitioning — useless for reproducible corpus
construction and impossible to oracle across engines.  These operators
derive every decision from a **content hash** (md5 of seed + key), which
is bit-identical in any engine and stable under repartitioning:

- :func:`hash_bucket` — uniform [0, den) bucket from md5(seed|key).
- :func:`hash_sample` — keep rows whose bucket < rate·den (exact-rate,
  deterministic, join-compatible: the same key samples identically in
  every table).
- :func:`stratified_sample` — per-stratum rates via a broadcast rate map.
- :func:`pack_sequences` — contiguous greedy packing of documents into
  fixed token-budget bins per shard (the "sequence packing" step before
  training-batch assembly); pure window arithmetic, no UDF.

All are narrow (no shuffle) except ``pack_sequences``, which shuffles once
on the shard key — at 100 TB each shard streams through one task, and the
cumulative-sum window needs no full materialization.

The reference library (/root/reference/indicators.py) has no sampling
surface; these extend SURVEY.md §7's north-star scope.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

HASH_DEN = 10_000  # bucket resolution: rates are exact multiples of 0.01%


#: NULL sampling keys hash through this sentinel so every operator in the
#: module treats them identically (bucketed deterministically, never
#: silently dropped): Spark's concat(NULL) is NULL, so an un-coalesced key
#: made hash_sample drop null-key rows even at rate=1.0 while
#: train_val_test_split routed the very same rows to 'train'.
NULL_KEY = "<null>"


def _key_str(key: Column) -> Column:
    return F.coalesce(key.cast("string"), F.lit(NULL_KEY))


def _order_key(seed_tag: str, key: Column) -> tuple[Column, Column]:
    """The module's deterministic global-order key, as a pair:
    ``md5('{seed_tag}|' || key)`` (lowercase fixed-width hex, so
    lexicographic order == numeric order) plus its first-8-hex 32-bit
    prefix cast to bigint — a monotone numeric proxy with KNOWN bounds
    ``[0, 2³²)`` that lets :mod:`~indicators_spark.scale`'s
    ``grouped_row_number`` / ``global_cum_sum`` range-bucket
    arithmetically without a min/max scan or a global sort.  Shared by
    :func:`epoch_shuffle` and :func:`pack_token_stream` so the two
    layouts can't drift apart (both replay in SQL as
    ``md5('{seed_tag}|' || CAST(key AS VARCHAR))``)."""
    h = F.md5(F.concat(F.lit(f"{seed_tag}|"), _key_str(key)))
    pre = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    return h, pre


def hash_bucket(key: Column, seed: str, den: int = HASH_DEN) -> Column:
    """Uniform bucket in [0, den): first 8 hex chars of md5('seed|key').

    ``conv`` runs JVM-side (no UDF); 32 hash bits >> den keeps modulo bias
    under 2^-18.  DuckDB equivalent:
    ``CAST(concat('0x', substr(md5(...),1,8)) AS UBIGINT) % den``.
    """
    h = F.md5(F.concat(F.lit(seed + "|"), _key_str(key)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % den


def bucket_sql(key_expr: str, seed: str, den: int = HASH_DEN) -> str:
    """The DuckDB rendering of :func:`hash_bucket` (for oracle SQL)."""
    return (
        f"CAST(concat('0x', substr(md5(concat('{seed}|', "
        f"COALESCE(CAST({key_expr} AS VARCHAR), '{NULL_KEY}'))), 1, 8)) "
        f"AS UBIGINT) % {den}"
    )


#: Resolution of :func:`hash_unit`: 12 hex chars = 48 bits.  v + 0.5 stays
#: exactly representable (< 2^52), so the arithmetic is bit-identical on
#: any IEEE engine.
UNIT_DEN = 16 ** 12


def hash_unit(key: Column, seed: str) -> Column:
    """Uniform u on the OPEN interval (0, 1) with 48-bit resolution —
    the continuous-looking variate A-ES scoring needs.  The 10⁴-bucket
    :func:`hash_bucket` is fine for rate filters but quantizes u to
    10,000 values, which at corpus scale creates massive score ties whose
    lexicographic tie-break would systematically bias a weighted sample."""
    h = F.md5(F.concat(F.lit(seed + "|"), _key_str(key)))
    v = F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint").cast("double")
    return (v + 0.5) / float(UNIT_DEN)


#: Magnitude guard for :func:`quantize_edge`: Spark's ``floor`` returns
#: LONG, so ``floor(x·1e4 + 0.5)`` overflows (saturates at Long.MAX)
#: once ``|x|`` clears ~9.2e14 — while DuckDB's ``floor`` stays double
#: and keeps going, silently breaking cross-engine edge parity on
#: timestamp-scale columns (r10 review).  Below 1e12 the product stays
#: under 1e16 (no overflow, exact +0.5), and above it a 4dp grid is
#: meaningless anyway (ULP(1e12) ≈ 2e-4), so the guard loses nothing.
EDGE_Q4_MAX = 1e12


def quantize_edge(c: Column) -> Column:
    """4dp-quantize an interpolated quantile EDGE when the grid is
    meaningful, pass it through raw when it is not (|x| ≥
    :data:`EDGE_Q4_MAX`).  The quantization exists so a data value
    sitting exactly on an edge cannot flip bucket membership on a
    last-bit interpolation difference between engines (ADVICE r9);
    :func:`edge_q4_sql` is the DuckDB rendering — keep the two in
    lockstep."""
    return F.when(
        F.abs(c) < F.lit(EDGE_Q4_MAX),
        F.floor(c * 1e4 + 0.500000001) / 1e4,
    ).otherwise(c)


def edge_q4_sql(expr: str) -> str:
    """DuckDB rendering of :func:`quantize_edge` (for oracle SQL)."""
    return (
        f"CASE WHEN abs({expr}) < {EDGE_Q4_MAX!r} THEN "
        f"floor(({expr}) * 1e4 + 0.500000001) / 1e4 ELSE ({expr}) END"
    )


def unit_sql(key_expr: str, seed: str) -> str:
    """The DuckDB rendering of :func:`hash_unit` (for oracle SQL)."""
    return (
        f"(CAST(CAST(concat('0x', substr(md5(concat('{seed}|', "
        f"COALESCE(CAST({key_expr} AS VARCHAR), '{NULL_KEY}'))), 1, 12)) "
        f"AS UBIGINT) AS DOUBLE) + 0.5) / {float(UNIT_DEN)!r}"
    )


def hash_sample(
    df: DataFrame, key: str, rate: float, seed: str = "s42"
) -> DataFrame:
    """Keep ~``rate`` of rows, chosen by content hash of ``key``.

    Deterministic across runs, engines, and partitionings; a filter only,
    so it pushes into the scan and costs zero shuffle.
    """
    return df.filter(hash_bucket(F.col(key), seed) < round(rate * HASH_DEN))


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "s42",
) -> DataFrame:
    """Per-stratum hash sampling (e.g. per-source mixture weights).

    ``rates`` maps stratum value → keep rate.  Implemented as a broadcast
    join against the tiny rate table, then the same hash filter — the big
    side is never shuffled.  Rows in strata absent from ``rates`` keep
    ``default_rate``.
    """
    spark = df.sparkSession
    rate_rows = [(k, round(v * HASH_DEN)) for k, v in sorted(rates.items())]
    rate_df = spark.createDataFrame(rate_rows, f"{stratum} string, _thresh int")
    joined = df.join(F.broadcast(rate_df), on=stratum, how="left")
    thresh = F.coalesce(F.col("_thresh"), F.lit(round(default_rate * HASH_DEN)))
    return joined.filter(hash_bucket(F.col(key), seed) < thresh).drop("_thresh")


def match_distribution_sample(
    df: DataFrame,
    ref: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 4,
    seed: str = "match",
) -> DataFrame:
    """Subsample ``df`` so ``value_col``'s distribution matches a
    REFERENCE corpus's, bucket-wise — the numeric-feature counterpart
    of DSIR's importance resampling ("make the web crawl's length/
    quality profile look like the curated set's").  Buckets are the
    reference's ``k``-quantile bands (equi-depth in ref, so each wants
    mass ``1/k``); each ``df`` bucket gets the deterministic hash-filter
    acceptance rate ``c · (ref_frac/df_frac)`` with the scalar ``c``
    chosen so the largest rate is exactly 1 — the maximal subsample
    with the reference's shape.

    Returns the kept rows as ``(key, bucket)`` plus ``value_col`` —
    row-level deterministic (the same md5 filter as
    :func:`hash_sample`), so the OUTPUT replays exactly in SQL, not
    just its histogram.

    Buckets the reference populates but ``df`` cannot (df_frac = 0)
    simply stay empty — matching is conditional on available mass;
    buckets with ref_frac = 0 are dropped (rate 0).  NULL values are
    excluded from both sides (the usual extraction-failure dropout).

    Scale shape: the reference side reduces to ``k−1`` quantile scalars
    (one agg; sketchable via percentile_approx at 100 TB) and the data
    side is ONE count-by-bucket aggregate plus a scan-pushable hash
    filter joined against a ≤ ``k``-row broadcast rate table — the big
    side never shuffles, exactly like :func:`stratified_sample`."""
    if k < 2:
        raise ValueError(f"match_distribution_sample: k must be >= 2, got {k!r}")
    fracs = [i / k for i in range(1, k)]
    v = F.col(value_col).cast("double")
    # ONE array-percentile aggregate (k−1 separate F.percentile calls
    # each buffer the full value set — r10 review), edges magnitude-
    # guard-quantized (ADVICE r9 + r10 review): Spark's F.percentile
    # and an oracle's quantile_cont may differ in the interpolation's
    # last bit, and a data value landing exactly on a divergent edge
    # would flip bucket — and kept-row membership — between engines.
    qarr = F.percentile(v, F.array(*[F.lit(q) for q in fracs]))
    edges = (
        ref.filter(v.isNotNull())
        .agg(qarr.alias("_earr"))
        .select(
            *[
                quantize_edge(F.col("_earr")[i - 1]).alias(f"_e{i}")
                for i in range(1, k)
            ]
        )
    )

    def bucket_of(col: Column) -> Column:
        b = F.lit(0)
        for i in range(1, k):
            b = b + (col > F.col(f"_e{i}")).cast("int")
        return b

    base = df.filter(v.isNotNull()).crossJoin(F.broadcast(edges))
    bucketed = base.withColumn("_b", bucket_of(v))
    ref_b = (
        ref.filter(v.isNotNull())
        .crossJoin(F.broadcast(edges))
        .select(bucket_of(v).alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_cr"))
    )
    df_b = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_cd"))
    # ratios: same integer->double expression order on both engines
    tot = Window.partitionBy()
    joint = (
        df_b.join(ref_b, "_b", "left")
        .withColumn("_fd", F.col("_cd") / F.sum("_cd").over(tot))
        .withColumn(
            "_fr",
            F.coalesce(F.col("_cr"), F.lit(0))
            / F.sum(F.coalesce(F.col("_cr"), F.lit(0))).over(tot),
        )
    )
    c = F.min(
        F.when(F.col("_fr") > 0, F.col("_fd") / F.col("_fr"))
    ).over(tot)
    rates = joint.withColumn(
        "_thresh",
        F.floor(
            F.when(F.col("_fr") > 0, c * F.col("_fr") / F.col("_fd"))
            .otherwise(F.lit(0.0))
            * HASH_DEN
            + F.lit(0.500000001)
        ).cast("int"),
    ).select("_b", "_thresh")
    kept = bucketed.join(F.broadcast(rates), "_b").filter(
        hash_bucket(F.col(key_col), seed) < F.col("_thresh")
    )
    return kept.select(
        F.col(key_col), F.col("_b").alias("bucket"), F.col(value_col)
    )


def pack_sequences(
    df: DataFrame,
    shard: str,
    order: str,
    tokens: str,
    capacity: int,
    out: str = "pack_id",
) -> DataFrame:
    """Assign each row a pack (bin) id so consecutive rows within a shard
    fill a ``capacity``-token budget.

    Semantics: rows are taken in ``order`` within each ``shard``; a row
    joins the bin of the tokens accumulated *before* it
    (``floor(cum_before / capacity)``).  A row longer than the remaining
    budget overflows its bin (documents are not split); bin boundaries are
    deterministic and oracle-able as a single SQL window.  One shuffle on
    the shard key; the running sum is streaming-friendly (no buffering of
    the partition).
    """
    w = (
        Window.partitionBy(shard)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens).over(w), F.lit(0))
    return df.withColumn(out, F.floor(cum_before / F.lit(capacity)))


def train_val_test_split(
    df: DataFrame,
    key: str,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: str = "split42",
) -> DataFrame:
    """Deterministic 3-way corpus split by content hash — the standard
    leakage-safe alternative to ``randomSplit`` (which reshuffles when the
    partitioning changes and can't be reproduced cross-engine).  A row's
    split depends only on its key: stable across runs, engines, cluster
    sizes, and incremental re-ingests (new rows never move old rows
    between splits).

    Pure projection (one md5 + compare), zero shuffle; the split column
    prunes into downstream scans when written partitioned-by-split.
    """
    b = hash_bucket(F.col(key), seed)
    val_cut = round(val_frac * HASH_DEN)
    test_cut = val_cut + round(test_frac * HASH_DEN)
    return df.withColumn(
        "split",
        F.when(b < val_cut, F.lit("val"))
        .when(b < test_cut, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def weighted_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    seed: str = "w42",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis A-ES, 2006): each row draws ``u`` from its content hash and
    ranks by ``ln(u)/w`` — the top ``k`` are a weighted sample where a
    row's inclusion probability is proportional to its weight.  The
    hash-derived ``u`` replaces the RNG, so the sample is bit-stable
    across runs, engines, and repartitioning (the same property
    :func:`hash_sample` has for uniform rates).

    Scale shape: the score is a narrow projection (no shuffle) and the
    top-k is ``orderBy().limit()`` → TakeOrderedAndProject (per-partition
    heaps + k·P driver merge) — never a global sort."""
    u = hash_unit(F.col(key), seed)
    score = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)  # A-ES is undefined for w <= 0
        .withColumn("aes_score", score)
        .orderBy(F.desc("aes_score"), key)
        .limit(k)
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.5,
    weight_expr: Column | None = None,
) -> DataFrame:
    """Temperature-scaled mixture weights per group (the multilingual /
    multi-source sampling rule from mBERT/XLM-R and T5 data recipes):
    ``p_g ∝ n_g^alpha`` — ``alpha=1`` keeps natural proportions,
    ``alpha→0`` flattens toward uniform, ``0<alpha<1`` up-samples the
    tail without starving the head.

    Returns one row per group: raw count, natural share, tempered weight
    (normalized to 1), and the expected number of samples per epoch of
    corpus size (``weight · Σn``).

    Scale shape: one group-keyed count with map-side combine (the shuffle
    is |groups| skinny rows), then the normalizing constant joins back as
    a broadcast single row — no second pass over the data and nothing on
    the driver."""
    n = (weight_expr if weight_expr is not None else F.count(F.lit(1))).alias("n")
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(n)
    tempered = counts.withColumn(
        "t", F.pow(F.col("n").cast("double"), F.lit(float(alpha)))
    )
    totals = tempered.agg(
        F.sum("n").alias("tot_n"), F.sum("t").alias("tot_t")
    )
    return (
        tempered.crossJoin(F.broadcast(totals))
        .select(
            F.col("grp").alias(group_col),
            F.col("n").cast("long").alias("n_docs"),
            (F.col("n") / F.col("tot_n")).alias("natural_share"),
            (F.col("t") / F.col("tot_t")).alias("weight"),
            (F.col("t") / F.col("tot_t") * F.col("tot_n")).alias(
                "expected_samples"
            ),
        )
    )


def cap_per_key(
    df: DataFrame,
    group: str,
    key: str,
    k: int,
    seed: str = "s42",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-group document cap (the C4/GPT-style per-domain clip): keep at
    most ``k`` rows per ``group`` value, chosen deterministically by
    content hash of ``key``.

    The complement of :func:`stratified_sample`: rate thinning keeps
    overrepresented sources overrepresented (10% of 10⁹ is still 10⁸),
    while a cap bounds every group's contribution outright — the standard
    guard against a single scraped domain dominating the training mix.
    Selection ranks rows by :func:`hash_unit` (48-bit, engine-portable)
    with the key string as tie-break, so the SAME k rows survive across
    runs, engines, and partitionings — **provided ``key`` is unique per
    row within a group**.  Rows sharing a key value tie on both sort
    terms (each is a function of ``key`` alone), leaving which of them
    survives partition-order dependent; for non-unique keys pass
    ``tiebreak=[cols...]`` to extend the order with a content hash over
    those columns, making selection total again.  The exact tie-break
    expression (mirror it verbatim in any oracle) is
    ``md5(concat(md5(str(col1)), md5(str(col2)), ...))`` — each column is
    stringified via the same NULL-sentinel cast as the key, hashed
    per-column, and the hex digests concatenated, so a separator byte
    appearing in a value can never make distinct tuples collide.

    Scale shape: one hash exchange on the group key; the row_number
    window's state is one group's rows.  For adversarial mega-groups
    (one domain = half the corpus), pre-thin with
    ``hash_sample(df, key, rate ≈ c·k/n_group)`` first so window state
    stays bounded — the cap then applies exactly to the survivors.
    """
    u = hash_unit(F.col(key), seed)
    order = [u.asc(), _key_str(F.col(key)).asc()]
    if tiebreak:
        # Per-column digests (fixed 32-hex each) before the outer hash:
        # concat of fixed-width digests is injective on the tuple, unlike
        # a separator join where a value containing the separator byte
        # collides distinct tuples.
        content = F.md5(
            F.concat(*[F.md5(_key_str(F.col(c))) for c in tiebreak])
        )
        order.append(content.asc())
    w = Window.partitionBy(group).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _dsir_features(
    df: DataFrame, id_col: str, text_col: str, buckets: int, seed: str
) -> DataFrame:
    """``(id, bkt)`` hashed unigram features, one row per TOKEN
    occurrence.  The hash is the engine-portable md5 bucket (not Spark's
    murmur3), so an oracle replays the identical feature space.  Pure
    explode + projection — zero shuffle; hashing happens scan-side."""
    tok = F.explode(F.split(F.col(text_col), " ")).alias("_tok")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"), tok
    )
    return base.select(
        "_id", hash_bucket(F.col("_tok"), seed, buckets).alias("bkt")
    )


def dsir_log_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
    seed: str = "dsir",
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by
    how target-like its hashed n-gram distribution is —
    ``log w(d) = Σ_f c_d(f) · (log p_target(f) − log q_raw(f))`` over
    add-``alpha``-smoothed hashed unigram bag distributions with
    ``buckets`` features.

    Returns ``(id, n_tokens, dsir_logw)`` for every raw doc with text.
    Pure relational arithmetic end-to-end (portable md5 feature hash +
    ln) — fully value-hash oracle-checkable.

    Scale shape: feature hashing is a scan-side explode (zero shuffle);
    each distribution is ONE map-side-combined groupBy on the bucket key
    (output ≤ ``buckets`` rows — independent of corpus size); the
    log-ratio table is ≤ ``buckets`` rows and broadcast onto the feature
    stream; the per-doc reduce is one doc-keyed groupBy.  Nothing is
    quadratic, no driver-side state beyond two scalar totals."""
    raw_f = _dsir_features(df, id_col, text_col, buckets, seed)
    tgt_f = _dsir_features(target, id_col, text_col, buckets, seed)

    tgt_c = tgt_f.groupBy("bkt").agg(F.count(F.lit(1)).alias("tc"))
    raw_c = raw_f.groupBy("bkt").agg(F.count(F.lit(1)).alias("rc"))
    tgt_tot = tgt_f.agg(F.count(F.lit(1)).alias("tt"))
    raw_tot = raw_f.agg(F.count(F.lit(1)).alias("rt"))

    a, b = float(alpha), float(buckets)
    ratio = (
        raw_c.join(tgt_c, "bkt", "left")
        .crossJoin(F.broadcast(tgt_tot))
        .crossJoin(F.broadcast(raw_tot))
        .select(
            "bkt",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + a)
                    / (F.col("tt") + a * b)
                )
                - F.log((F.col("rc") + a) / (F.col("rt") + a * b))
            ).alias("lr"),
        )
    )
    # ONE doc-keyed exchange: each token row picks its bucket's log-ratio
    # from the broadcast and the groupBy's map-side partials collapse a
    # partition's token rows to per-doc sums before the shuffle — a
    # per-(doc,bucket) pre-aggregation would add a second exchange while
    # shuffling MORE rows (distinct (doc,bucket) pairs > docs).
    return (
        raw_f.join(F.broadcast(ratio), "bkt")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lr").alias("dsir_logw"),
        )
        .select(F.col("_id").alias(id_col), "n_tokens", "dsir_logw")
    )


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
    seed: str = "dsir",
    alpha: float = 1.0,
    u_seed: str = "dsir-u",
) -> DataFrame:
    """DSIR resampling: top-``k`` docs under A-ES weighted sampling with
    weight ``w = exp(dsir_logw)``, computed entirely in the LOG domain —
    the A-ES key ``ln(u)/w`` orders identically to the Gumbel form
    ``ln(−ln u) − log w`` ascending, so corpus-scale log-weights (±500
    is normal for a 50-token doc) never overflow ``exp``.

    Deterministic (``u`` is the 48-bit content hash of the doc id, as
    :func:`weighted_sample`) and engine-portable; the top-k plans as
    TakeOrderedAndProject — per-partition heaps, never a global sort."""
    lw = dsir_log_weights(df, target, id_col, text_col, buckets, seed, alpha)
    u = hash_unit(F.col(id_col), u_seed)
    score = F.log(-F.log(u)) - F.col("dsir_logw")
    # rank on the 4dp-quantized score (doc id tie-break): dsir_logw
    # carries float-summation noise whose ORDER differs per engine /
    # partitioning, and an unquantized rank boundary would make row k
    # nondeterministic.  Same quantization convention as queries.round4.
    qscore = F.floor(score * 1e4 + F.lit(0.500000001)) / 1e4
    return (
        lw.withColumn("dsir_score", qscore)
        .orderBy(F.asc("dsir_score"), F.col(id_col))
        .limit(k)
    )


def epoch_shuffle(
    df: DataFrame,
    key: str,
    epoch: int,
    seed: str = "ep",
    buckets: int = 32,
    out: str = "epoch_pos",
) -> DataFrame:
    """Deterministic pseudo-random training-epoch permutation: every row
    gets a contiguous position ``1..N`` for epoch ``e``, defined purely by
    the data — position = global rank of ``md5('{seed}{e}|' || key)``.
    Each epoch's hash reshuffles the corpus; the same epoch always yields
    the same order on any engine, cluster, or partitioning (the property
    RNG ``.orderBy(rand())`` loses on every retry/restart).

    NO global sort materializes: the md5 prefix (first 8 hex = uniform
    32-bit int) is a monotone numeric proxy for the hash order, so
    :func:`~indicators_spark.scale.grouped_row_number` range-buckets on it
    arithmetically (bounds are KNOWN — ``[0, 2³²)`` — so not even a
    min/max scan runs), ranks per bucket in parallel, and composes bucket
    offsets from a ≤ ``buckets``-row prefix sum.  Hash uniformity makes
    the buckets balanced by construction — no skew dispatch needed.

    ``key`` should be unique and non-null (the usual doc-id contract);
    rows sharing a key value get adjacent positions in engine order."""
    from ..scale import grouped_row_number

    h, pre = _order_key(f"{seed}{epoch}", F.col(key))
    ranked = grouped_row_number(
        df.withColumn("_eh", h).withColumn("_ehb", pre),
        (),
        order_cols=("_eh", key),
        buckets=buckets,
        bucket_by="_ehb",
        bounds=(0.0, float(2**32 - 1)),
        out=out,
    )
    return ranked.drop("_eh", "_ehb")


# --------------------------------------------------------------------- #
# Token-budget water-filling (mixture weights → concrete sampling plan)
# --------------------------------------------------------------------- #


def token_budget_waterfill(
    df: DataFrame,
    budget: float,
    key_col: str = "source",
    supply_col: str = "supply",
    weight_col: str = "w",
) -> DataFrame:
    """Turn target mixture weights into an executable per-source token
    plan: allocate ``alloc = min(c·w, supply)`` with the single scalar
    ``c`` chosen so allocations sum to ``budget`` — the water-filling
    solution every pretraining run needs once DoReMi/temperature weights
    meet finite per-source corpora (a weight can demand more tokens than
    a source has; its shortfall redistributes proportionally among the
    uncapped sources rather than silently shrinking the run).

    Input rows: one per source with its token ``supply`` and target
    ``weight`` (weights need not be normalized — they are renormalized
    here).  Returns (key, supply, weight, alloc, capped, sample_rate):
    capped sources contribute everything they have; uncapped sources
    contribute ``c·w`` and ``sample_rate = alloc/supply`` is the hash-
    sample rate to run (:func:`hash_sample`).

    Closed form, no iteration: sort sources by ``r = supply/w``
    ascending; the capped set is the maximal prefix where each source's
    ``r`` is at most the water level computed AFTER capping everything
    before it (``c_j = (budget − ΣT_prefix) / (W − Σw_prefix)``), found
    with one cumulative window over the K-source rows and one scalar
    first-failure aggregate.  K rows total — the SinglePartition window
    is over the per-source summary, never the corpus; at 100 TB this
    runs on the output of one groupBy.

    If ``budget ≥ total supply`` every source is capped (alloc =
    supply) — the plan just says "take everything".  Sources with
    weight ≤ 0 are allocated 0 (capped=0, rate=0) and excluded from the
    water-fill math entirely — supply/weight would divide by zero under
    ANSI, and a NULL ratio would sort them FIRST in Spark but LAST in
    DuckDB, silently handing a zero-weight source its full supply."""
    keyed = df.select(
        F.col(key_col).alias("_k"),
        F.col(supply_col).cast("double").alias("_t"),
        F.col(weight_col).cast("double").alias("_rw"),
    )
    # NULL weights (e.g. a left-joined weight table with a missing
    # source) route to the zero-alloc branch too — NULL is false in both
    # filters, which would silently DROP the row from the plan
    zero = keyed.filter(F.col("_rw").isNull() | (F.col("_rw") <= 0.0))
    pos = keyed.filter(F.col("_rw") > 0.0)
    w_norm = F.col("_rw") / F.sum("_rw").over(Window.partitionBy())
    base = pos.select(
        "_k", "_t", w_norm.alias("_w")
    ).withColumn("_r", F.col("_t") / F.col("_w"))
    ordw = Window.orderBy("_r", "_k")
    cum = (
        base.withColumn("_rn", F.row_number().over(ordw))
        .withColumn(
            "_cumt", F.coalesce(F.lag(F.sum("_t").over(ordw)).over(ordw), F.lit(0.0))
        )
        .withColumn(
            "_cumw", F.coalesce(F.lag(F.sum("_w").over(ordw)).over(ordw), F.lit(0.0))
        )
    )
    # water level if everything strictly before this row is capped
    c_prev = (F.lit(float(budget)) - F.col("_cumt")) / (1.0 - F.col("_cumw"))
    cum = cum.withColumn("_cprev", c_prev)
    first = F.min(F.struct("_rn", "_cprev"))
    fail = cum.filter(F.col("_r") > F.col("_cprev")).agg(
        first["_rn"].alias("_ff"), first["_cprev"].alias("_c")
    )
    out = cum.crossJoin(F.broadcast(fail)).withColumn(
        "capped",
        F.col("_ff").isNull() | (F.col("_rn") < F.col("_ff")),
    )
    alloc = F.when(F.col("capped"), F.col("_t")).otherwise(
        F.col("_c") * F.col("_w")
    )
    q4 = lambda c: F.floor(c * 1e4 + 0.500000001) / 1e4  # noqa: E731
    filled = out.select(
        F.col("_k").alias(key_col),
        q4(F.col("_t")).alias(supply_col),
        q4(F.col("_w")).alias("weight"),
        q4(alloc).alias("alloc"),
        F.col("capped").cast("long").alias("capped"),
        q4(alloc / F.col("_t")).alias("sample_rate"),
    )
    zeroed = zero.select(
        F.col("_k").alias(key_col),
        q4(F.col("_t")).alias(supply_col),
        F.lit(0.0).alias("weight"),
        F.lit(0.0).alias("alloc"),
        F.lit(0).cast("long").alias("capped"),
        F.lit(0.0).alias("sample_rate"),
    )
    return filled.unionByName(zeroed)


# --------------------------------------------------------------------- #
# Training-sequence packing (concat-and-chunk sample packing)
# --------------------------------------------------------------------- #


def pack_token_stream(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    seed: str = "pack",
    buckets: int = 32,
    explode: bool = False,
) -> DataFrame:
    """Pack documents into fixed-``seq_len`` training sequences by the
    standard concat-and-chunk rule (GPT/T5 pretraining sample packing):
    documents are concatenated in a deterministic pseudo-random order
    and the token stream is cut every ``seq_len`` tokens, so every
    sequence except the last is exactly full (zero padding) and a
    document may span adjacent sequences.

    The GLOBAL-STREAM complement of :func:`pack_sequences` (the no-split
    per-shard bin packer the ``pack_sequences_512`` query runs): that
    form never splits a document and wastes the per-bin remainder; this
    form wastes zero tokens and splits at boundaries — the two standard
    trade-offs (SFT packing vs pretraining packing).

    Token counts come from ``token_col`` if given (an upstream
    tokenizer's output), else whitespace words of ``text_col``.  Docs
    with NULL text / zero tokens are excluded (they contribute nothing
    to the stream; the standard extraction-failure dropout).

    ``explode=False`` (default) returns one row per document:
    ``(id, n_tokens, start_tok, first_seq, last_seq, offset_in_first)``
    with ``start_tok`` the 0-based global stream offset and sequence
    ids 0-based.  ``explode=True`` returns one row per (document,
    sequence) intersection: ``(seq_id, id, seq_tok_start,
    n_tokens_in_seq)`` — the shard manifest a loader consumes; fan-out
    per doc is ``≤ n_tokens/seq_len + 1`` (bounded, never corpus-wide).

    Scale shape: the order key is ``md5(seed|id)`` whose 32-bit prefix
    range-buckets ARITHMETICALLY (known [0, 2³²) bounds — the
    :func:`epoch_shuffle` trick), the global token prefix-sum is
    :func:`~indicators_spark.scale.global_cum_sum` (two skinny
    exchanges + a ≤ ``buckets``-row broadcast, NO global sort, no
    single-task stage), and the span math is row-local integer
    arithmetic.  Everything is engine-portable (md5 + integer div), so
    the whole layout replays exactly in ANSI SQL — deterministic across
    engines, partitionings, and restarts, which is what makes the
    resulting shard manifest safely resumable."""
    from ..scale import global_cum_sum

    if int(seq_len) < 1:
        # eager, like the module's other contract guards: seq_len=0 would
        # die mid-job as an opaque ANSI DIVIDE_BY_ZERO deep in the span
        # math; negative values would silently emit garbage seq ids
        raise ValueError(
            f"pack_token_stream: seq_len must be >= 1, got {seq_len!r}"
        )
    seq_len = int(seq_len)
    if token_col is None:
        toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        base = df.filter(
            F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
        ).select(F.col(id_col), toks.cast("long").alias("_nt"))
    else:
        base = df.filter(
            F.col(token_col).isNotNull() & (F.col(token_col) > 0)
        ).select(F.col(id_col), F.col(token_col).cast("long").alias("_nt"))
    h, pre = _order_key(seed, F.col(id_col))
    ordered = base.withColumn("_h", h).withColumn("_hb", pre)
    cum = global_cum_sum(
        ordered,
        ["_nt"],
        order_cols=("_h", id_col),
        buckets=buckets,
        bucket_by="_hb",
        bounds=(0.0, float(2**32 - 1)),
    )
    L = F.lit(int(seq_len))
    start = (F.col("_cum__nt") - F.col("_nt")).alias("start_tok")
    per_doc = cum.select(
        F.col(id_col),
        F.col("_nt").alias("n_tokens"),
        start,
        F.floor((F.col("_cum__nt") - F.col("_nt")) / L)
        .cast("long")
        .alias("first_seq"),
        F.floor((F.col("_cum__nt") - 1) / L).cast("long").alias("last_seq"),
        ((F.col("_cum__nt") - F.col("_nt")) % L)
        .cast("long")
        .alias("offset_in_first"),
    )
    if not explode:
        return per_doc
    seq = F.explode(F.sequence(F.col("first_seq"), F.col("last_seq"))).alias(
        "seq_id"
    )
    ex = per_doc.select(id_col, "n_tokens", "start_tok", seq)
    end_tok = F.col("start_tok") + F.col("n_tokens")  # exclusive
    lo = F.greatest(F.col("start_tok"), F.col("seq_id") * L)
    hi = F.least(end_tok, (F.col("seq_id") + 1) * L)
    return ex.select(
        "seq_id",
        F.col(id_col),
        (lo - F.col("seq_id") * L).cast("long").alias("seq_tok_start"),
        (hi - lo).cast("long").alias("n_tokens_in_seq"),
    )


def quantile_normalize_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    key_col: str,
    buckets: int = 32,
) -> DataFrame:
    """Quantile-normalize ``value_col`` WITHIN each group onto the POOLED
    corpus distribution — the standard calibration step before mixing
    heterogeneous per-source quality scores ("source A's 90th percentile
    should mean the same thing as source B's 90th percentile").

    For each row: its within-group percentile rank
    ``pct = (r−1)/(n−1)`` (SQL ``percent_rank`` convention, ties broken
    by ``key_col`` so ranks are total and replayable), mapped to the
    pooled distribution's interpolated quantile at that rank — i.e. the
    value a pooled ``quantile_cont(pct)`` would return.  The
    interpolation index is computed in EXACT INTEGER arithmetic:
    ``pos = (r−1)·(N−1)``, ``idx = pos DIV (n−1)``,
    ``rem = pos MOD (n−1)``, then
    ``calib = v[idx] + (v[idx+1] − v[idx]) · rem/(n−1)`` over the pooled
    order statistics ``v[0..N−1]`` — no float position ever computed, so
    bucket/index choices are bit-portable across engines and the single
    trailing float expression replays exactly in an oracle.

    Returns ``(key_col, group_col, _v, _pct, _calib)`` with ``_v`` the
    cast value; callers alias/quantize for output.  Rows with a NULL
    value, group, or key are excluded (the usual extraction-failure
    dropout); ``key_col`` must be globally unique (it totalizes both
    orders).  A single-row group gets ``pct = 0`` (SQL percent_rank
    convention) and calibrates to the pooled minimum's interpolation at
    rank 0.

    Scale shape: both enumerations use the range-bucket kernels
    (:func:`~..scale.grouped_row_number`, grouped and global) — NO
    one-task-per-group or global-sort window; one shared min/max scan
    provides both kernels' bounds.  The pooled order-statistics table is
    corpus-sized but two skinny columns ``(gidx, value)``, and the two
    index joins are integer equi-joins Spark shuffles on the join key —
    at 100 TB swap it for a G-point equi-depth grid (percentile_approx)
    if even that table is unwelcome; the integer index arithmetic is
    unchanged.  Long overflow in ``(r−1)·(N−1)`` needs r·N > 9.2e18
    (both a >3e9-row group and a >3e9-row corpus); past that, lift the
    three integer expressions to decimal(38,0) — both engines are exact
    there too.
    """
    from ..scale import grouped_row_number

    v = F.col(value_col).cast("double")
    base = df.filter(
        v.isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(key_col).isNotNull()
    ).select(F.col(key_col), F.col(group_col), v.alias("_v"))
    # ONE per-group stats pass (VERDICT r13 #7 "while there"): global
    # bounds (min of mins / max of maxs), the per-group row counts AND
    # the pooled total all derive from a single ≤groups-row driver
    # fold — the former three subtrees (bounds agg + nper broadcast
    # agg + ntot crossJoin agg) re-enter the plan as driver literals
    # (the standing K-driver-scalars budget).
    st = (
        base.groupBy(group_col)
        .agg(
            F.min("_v").alias("_lo"),
            F.max("_v").alias("_hi"),
            F.count(F.lit(1)).alias("_n"),
        )
        .collect()
    )
    if not st:
        raise ValueError(
            "quantile_normalize_by_group: no rows with non-null "
            f"({value_col}, {group_col}, {key_col})"
        )
    bounds = (
        float(min(r["_lo"] for r in st)),
        float(max(r["_hi"] for r in st)),
    )
    ntot = sum(r["_n"] for r in st)
    ranked = grouped_row_number(
        base,
        [group_col],
        ["_v", key_col],
        buckets=buckets,
        bucket_by="_v",
        bounds=bounds,
        out="_r",
    )
    gtype = df.schema[group_col].dataType
    nper = df.sparkSession.createDataFrame(
        [(r[group_col], int(r["_n"])) for r in st],
        T.StructType(
            [
                T.StructField(group_col, gtype),
                T.StructField("_n", T.LongType()),
            ]
        ),
    )
    pooled = grouped_row_number(
        base.select("_v", key_col),
        (),
        order_cols=["_v", key_col],
        buckets=buckets,
        bucket_by="_v",
        bounds=bounds,
        out="_gidx",
    ).select("_gidx", F.col("_v").alias("_pv"))
    calc = (
        ranked.join(F.broadcast(nper), group_col)
        # `_ntot`, not `_N`: Spark resolves column names
        # case-insensitively by default, so `_N` would collide with the
        # per-group `_n`
        .withColumn("_ntot", F.lit(int(ntot)).cast("long"))
        .withColumn("_pos", (F.col("_r") - 1) * (F.col("_ntot") - 1))
        .withColumn("_nm1", F.col("_n") - 1)
        # integer DIV/MOD (never a float position): CASE guards the
        # 1-row group's ÷0, which ANSI integer DIV would throw on
        .withColumn(
            "_idx",
            F.expr("CASE WHEN _n > 1 THEN _pos DIV _nm1 ELSE 0L END"),
        )
        .withColumn(
            "_rem",
            F.expr("CASE WHEN _n > 1 THEN _pos % _nm1 ELSE 0L END"),
        )
    )
    plo = pooled.select(
        F.col("_gidx").alias("_glo"), F.col("_pv").alias("_vlo")
    )
    phi = pooled.select(
        F.col("_gidx").alias("_ghi"), F.col("_pv").alias("_vhi")
    )
    joined = calc.join(
        plo, F.col("_idx") + 1 == F.col("_glo")
    ).join(phi, F.col("_idx") + 2 == F.col("_ghi"), "left")
    frac = F.when(
        F.col("_n") > 1,
        F.col("_rem").cast("double") / F.col("_nm1").cast("double"),
    ).otherwise(F.lit(0.0))
    pct = F.when(
        F.col("_n") > 1,
        (F.col("_r") - 1).cast("double") / F.col("_nm1").cast("double"),
    ).otherwise(F.lit(0.0))
    vhi = F.coalesce(F.col("_vhi"), F.col("_vlo"))
    return joined.select(
        F.col(key_col),
        F.col(group_col),
        F.col("_v"),
        pct.alias("_pct"),
        (F.col("_vlo") + (vhi - F.col("_vlo")) * frac).alias("_calib"),
    )


#: scipy/statsmodels consistency constant: MAD·1.4826 estimates σ under
#: normality — the same constant `events_anomaly_mad` uses.
MAD_SIGMA = 1.4826


def robust_scale_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """Per-group robust z-scores ``(x − median_g) / (1.4826 · MAD_g)`` —
    the outlier-insensitive standardization (median/MAD instead of
    mean/std) used to compare quality/length signals across sources
    whose scales differ.

    Medians are DISCRETE (lower-median order statistics — actual data
    values, the robust-statistics convention), computed with the
    selection kernel :func:`~..scale.kth_element_by_group`: no
    per-group sort window and no value buffering — each statistic costs
    a few shared histogram scans regardless of group count, and the
    groups×2 resulting scalars re-enter the plan as a broadcast table
    (the standing K-driver-literals budget).  ``MAD_g`` is the lower
    median of ``|x − median_g|`` (second selection pass over a derived
    column).  A zero MAD (over half the group shares one value) yields
    NULL scores for that group — the ÷0→NULL policy, mirrored by the
    oracle's NULLIF.

    Returns ``(key_col, group_col, _v, _med, _mad, _rz)`` raw; callers
    alias/quantize.  NULL value/group/key rows are excluded.  Because
    both statistics are exact order statistics (data values, not
    interpolations), they are bit-identical across engines and the
    score expression replays exactly in SQL.
    """
    from ..scale import kth_element_by_group

    v = F.col(value_col).cast("double")
    base = df.filter(
        v.isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(key_col).isNotNull()
    ).select(F.col(key_col), F.col(group_col), v.alias("_v"))
    # ONE bounds pass serves BOTH kernel runs (prior_stats): the MAD
    # rows are exactly the base rows (the median join is 1-row-per-group
    # broadcast, `_ad` is never null for surviving rows), and IEEE
    # subtraction is monotone, so per group
    # |x − med| ≤ max(hi − med, med − lo) holds in float — a valid
    # superset interval.  Two stats aggregations become one.  The
    # aggregation must count exactly the rows the kernel's keep filter
    # sees (NaN excluded), and the derived MAD interval is only valid
    # when lo/hi/med are all finite (±inf makes hi−med NaN and turns
    # same-signed-inf `_ad` rows into NaN the kernel drops while the
    # prior n still counted them) — non-finite groups fall back to the
    # kernel's own bounds pass, which handles them exactly.
    st = {
        r["_g"]: (r["lo"], r["hi"], r["n"])
        for r in base.filter(~F.isnan("_v"))
        .groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    _finite = lambda *xs: all(  # noqa: E731
        x is not None and math.isfinite(x) for x in xs
    )
    prior_v = (
        {g: (lo, hi, n, n, 1) for g, (lo, hi, n) in st.items()}
        if all(_finite(lo, hi) for lo, hi, _n in st.values())
        else None
    )
    med = kth_element_by_group(
        base, "_v", group_col, frac=0.5, prior_stats=prior_v
    ).select(F.col(group_col), F.col("value").alias("_med"))
    med_by_g = {
        r[group_col]: r["_med"] for r in med.collect()
    }
    with_med = base.join(F.broadcast(med), group_col).withColumn(
        "_ad", F.abs(F.col("_v") - F.col("_med"))
    )
    prior_ad = (
        {
            g: (0.0, max(hi - med_by_g[g], med_by_g[g] - lo), n, n, 1)
            for g, (lo, hi, n) in st.items()
        }
        if all(
            g in med_by_g and _finite(lo, hi, med_by_g[g])
            for g, (lo, hi, _n) in st.items()
        )
        else None
    )
    mad = kth_element_by_group(
        with_med, "_ad", group_col, frac=0.5, prior_stats=prior_ad
    ).select(F.col(group_col), F.col("value").alias("_mad"))
    return (
        with_med.join(F.broadcast(mad), group_col)
        .withColumn(
            "_rz",
            (F.col("_v") - F.col("_med"))
            / F.nullif(F.lit(MAD_SIGMA) * F.col("_mad"), F.lit(0.0)),
        )
        .select(key_col, group_col, "_v", "_med", "_mad", "_rz")
    )
