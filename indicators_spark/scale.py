"""Scale-out paths for the two operations that would otherwise serialize.

The reference computes many indicators over the WHOLE frame (no partition
key — SURVEY.md §2c.3), and Spark's window operator puts an un-partitioned
window in a single task.  Fine at sf0.1; a bottleneck at 100 TB.  Two
distributed-equivalent forms fix that:

1. **Halo rolling windows** (`halo_rolling_multi`): bounded trailing-window
   aggs need only the previous ``n-1`` rows.  Range-bucket the series by its
   order key, ship each bucket's last ``n-1`` rows to the next bucket as a
   halo, compute the windowed agg inside each bucket independently, drop
   halo rows.  One range shuffle + one per-bucket window; no single-task
   stage.  Exact for any rows-frame agg (incl. the min-samples gate), as
   long as each bucket holds ≥ n-1 rows (pick buckets ≤ rows/(n-1)).

2. **Chunk-scan EWM** (`ewm_chunked`): the adjust=False recurrence
   ``y = (1-a)·y₁ + a·x`` composes across chunks:
   ``y_end(chunk) = (1-a)^m · y_in + L_end`` where ``L`` is the chunk-local
   zero-seeded recurrence and the global seed contributes ``(1-a)^m · x₀``.
   Pass 1 computes each chunk's ``(decay, L_end)`` in parallel; the carries
   fold on the driver (one tiny row per chunk); pass 2 finishes each chunk
   in parallel with its incoming carry.  Parallelism = chunk count, two
   shuffles total; exact up to ulp-level reassociation (verified ≤1e-12
   relative in tests).

Both generalize: ``partition_cols`` runs the same halo scheme per key
(per-symbol rolling with #keys × #buckets parallelism instead of #keys),
``halo_lag`` covers shift/diff/pct_change, and ``bounds`` lets a kernel
chain share one min/max scan (or skip it via catalog metadata).

All are verified equivalent to the single-window forms in
tests/test_scale.py.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Sequence
from dataclasses import dataclass
from fractions import Fraction

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _halo_route(
    present: DataFrame,
    partition_cols: Sequence[str],
    rows: int,
    direction: str,
) -> DataFrame:
    """Routing map for one direction of :func:`halo_frame`'s halo
    duplication: for every populated (partition, bucket) of the skinny
    ``present`` table (columns ``partition_cols``, ``_bucket``,
    ``_cnt``), the destination bucket its halo rows move to — the NEXT
    populated bucket of the same partition for ``direction="next"``, the
    PREVIOUS for ``"prev"``.

    The under-sized-sender precondition is enforced here from the same
    counts: a sender holding < ``rows`` rows that is NOT its partition's
    first (``next``) / last (``prev``) populated bucket raises through
    ``F.raise_error`` instead of silently emitting truncated warm-ups
    downstream.  Returns columns ``_pa_<c>...``, ``_ba``, ``_dest``.
    """
    a = present.select(
        *[F.col(c).alias(f"_pa_{c}") for c in partition_cols],
        F.col("_bucket").alias("_ba"),
        F.col("_cnt").alias("_acnt"),
    )
    b = present.select(
        *[F.col(c).alias(f"_pb_{c}") for c in partition_cols],
        F.col("_bucket").alias("_bb"),
    )
    if direction == "next":
        cond = F.col("_bb") > F.col("_ba")
        exempt_rel = F.col("_bb") < F.col("_ba")  # first populated: exempt
        pick = F.min
        what = f"window-1 = {rows}"
    else:
        cond = F.col("_bb") < F.col("_ba")
        exempt_rel = F.col("_bb") > F.col("_ba")  # last populated: exempt
        pick = F.max
        what = f"lead depth = {rows}"
    for c in partition_cols:
        same_part = F.col(f"_pa_{c}") == F.col(f"_pb_{c}")
        cond = cond & same_part
        exempt_rel = exempt_rel & same_part
    # "not the partition's first/last populated bucket" via a broadcast
    # semi-join over the skinny presence table (a global min/max(_bucket)
    # aggregate would plan a SinglePartition exchange — harmless on ≤
    # |parts|·buckets rows but it breaks the kernels' pinned
    # no-SinglePartition plan contract)
    guarded = (
        a.join(F.broadcast(b), exempt_rel, "left_semi")
        .select(*[F.col(f"_pa_{c}") for c in partition_cols], "_ba")
        .withColumn("_gd", F.lit(True))
    )
    dest = (
        a.join(F.broadcast(b), cond)
        .groupBy(*[F.col(f"_pa_{c}") for c in partition_cols], "_ba")
        .agg(pick("_bb").alias("_dest"), F.any_value("_acnt").alias("_acnt"))
        .join(
            F.broadcast(guarded),
            [*[f"_pa_{c}" for c in partition_cols], "_ba"],
            "left",
        )
    )
    ok = (F.col("_acnt") >= rows) | F.col("_gd").isNull()
    return dest.withColumn(
        "_dest",
        F.when(ok, F.col("_dest")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("halo precondition violated: a populated bucket "
                          "holds "),
                    F.col("_acnt").cast("string"),
                    F.lit(f" rows < {what}; use fewer buckets (each must "
                          "span the halo depth) or the plain window form"),
                )
            )
        ),
    ).drop("_acnt", "_gd")


def halo_frame(
    bucketed: DataFrame,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    back: int = 0,
    fwd: int = 0,
) -> DataFrame:
    """A bucketed frame extended with backward and/or forward halos: the
    last ``back`` rows of every (partition, bucket) duplicated into the
    NEXT populated bucket of the same partition, the first ``fwd`` rows
    into the PREVIOUS one, flagged ``_halo`` — the one constructor of
    halo rows behind the halo kernels and the fluent API's size dispatch
    (core.py).

    Routing by presence (not blindly bucket±1) keeps the kernels exact
    under skewed keys that leave arithmetic buckets empty — a halo
    landing in an empty bucket would be filtered away and the next
    populated bucket's warm-up would silently lose its history.  The
    presence table is one skinny (partition, bucket) aggregate
    (≤ |parts|·buckets rows, map-side combined) and each route is a
    broadcast join over it — no SinglePartition stage.  An under-sized
    sender raises instead of truncating a receiver (:func:`_halo_route`).

    With both halos present, any per-bucket window function is exact on
    every non-halo row whose frame reaches ≤ ``back`` rows behind and
    ≤ ``fwd`` rows ahead — and, crucially for CHAINED window operators,
    the intermediates cascade: a tail-halo row's trailing-window value
    is exact whenever its full lookback lies within the halo (so a
    real row's second-stage window may consume first-stage values off
    halo rows as long as the chain's total lookback ≤ ``back``), and a
    tail-halo row's LEAD values are always exact (its true successors —
    the rest of the tail plus the bucket's real rows — are all present),
    with the symmetric statements for head-halo rows.  Callers account
    cumulative chain depth per direction and re-halo when a budget is
    exceeded (core.py ``_halo_part``).

    ONE ranking pass serves every requested direction: a descending
    ``row_number`` for a tail alone, an ascending one for a head alone,
    and for both the ascending rank plus the broadcast per-bucket counts
    (descending rank = ``count − rn + 1``) — one full-data window stage.

    Callers filter ``~_halo`` and drop ``_bucket``/``_halo`` when done.
    """
    base = bucketed.withColumn("_halo", F.lit(False))
    if back <= 0 and fwd <= 0:
        return base
    keys = [*partition_cols, "_bucket"]
    present = bucketed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_cnt"))
    wb = Window.partitionBy(*keys)
    if fwd > 0:
        ranked = bucketed.withColumn(
            "_fwd",
            F.row_number().over(wb.orderBy(*[F.col(c) for c in order_cols])),
        )
        if back > 0:
            ranked = ranked.join(F.broadcast(present), keys).withColumn(
                "_rev", F.col("_cnt") - F.col("_fwd") + 1
            )
    else:
        ranked = bucketed.withColumn(
            "_rev",
            F.row_number().over(
                wb.orderBy(*[F.col(c).desc() for c in order_cols])
            ),
        )
    dirs = [
        (depth, F.col(rank) <= depth, direction)
        for depth, rank, direction in (
            (back, "_rev", "next"),
            (fwd, "_fwd", "prev"),
        )
        if depth > 0
    ]
    # ONE halo branch for every direction (a branch per direction would
    # re-plan — and re-execute — the ranking window once each): a row
    # within `back` of its bucket end AND `fwd` of its start explodes
    # into both copies
    near = dirs[0][1]
    for _, hit, _ in dirs[1:]:
        near = near | hit
    halos = ranked.filter(near)
    for depth, _, direction in dirs:
        route = _halo_route(present, partition_cols, depth, direction)
        cond = F.col("_ba") == F.col("_bucket")
        for c in partition_cols:
            cond = cond & (F.col(f"_pa_{c}") == F.col(c))
        # left joins: the last (resp. first) populated bucket has no
        # destination — its would-be copies compact away
        halos = halos.join(F.broadcast(route), cond, "left").select(
            *halos.columns, F.col("_dest").alias(f"_to_{direction}")
        )
    copies = [F.when(hit, F.col(f"_to_{d}")) for _, hit, d in dirs]
    halos = (
        halos.withColumn("_copies", F.array_compact(F.array(*copies)))
        .filter(F.size("_copies") > 0)
        .withColumn("_bucket", F.explode("_copies"))
        .select(*bucketed.columns, F.lit(True).alias("_halo"))
    )
    return base.unionByName(halos)


def _with_bucket(
    df: DataFrame,
    order_cols: Sequence[str],
    buckets: int,
    bucket_by: str | None = None,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Deterministic contiguous range bucketing.

    ``bucket_by``: a numeric column MONOTONE in the total order (e.g. a
    dense sequence id).  Buckets come from arithmetic ranges of its min/max
    — one cheap aggregate, NO global sort, fully parallel.  This is the
    scale path; it requires roughly uniform keys (no empty buckets, each
    bucket ≥ n-1 rows for halo use).  Pass ``bounds=(lo, hi)`` when the key
    range is already known (catalog metadata, a prior call) to skip the
    min/max scan entirely — at 100 TB that scan is the only full pass this
    kernel adds, so sharing bounds across a kernel chain halves the reads.

    Without ``bucket_by``, fall back to ``ntile`` over the total order —
    exact for any key distribution but serialized by the global sort
    (test/small-data path)."""
    if bucket_by is not None:
        if bounds is not None:
            lo, hi = float(bounds[0]), float(bounds[1])
        else:
            lo, hi = df.agg(
                F.min(bucket_by).cast("double"), F.max(bucket_by).cast("double")
            ).first()
        if lo is None or hi is None:
            raise ValueError(
                f"range bucketing: no non-null values in {bucket_by!r} "
                "(empty input?) — nothing to bucket"
            )
        span = (hi - lo) + 1.0
        b = (
            F.floor((F.col(bucket_by).cast("double") - F.lit(lo)) / F.lit(span) * buckets)
            + 1
        )
        # NULL keys route to bucket 1 — the plain-window form sorts null
        # order keys FIRST (F.least would instead skip the NULL and dump
        # them in the LAST bucket); greatest(…, 1) additionally tolerates
        # bounds slightly narrower than the data (keys below lo clamp to
        # the first bucket instead of bucket 0)
        b = F.when(F.col(bucket_by).isNull(), F.lit(1)).otherwise(
            F.least(F.greatest(b, F.lit(1)), F.lit(buckets))
        )
        return df.withColumn("_bucket", b.cast("int"))
    if bounds is not None:
        raise ValueError(
            "bounds were given without bucket_by — they would be silently "
            "ignored and the kernel would fall back to the serialized "
            "ntile path; pass bucket_by (the monotone key the bounds "
            "describe) as well"
        )
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("_bucket", F.ntile(buckets).over(w))


_AGG_FNS = {
    "mean": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "std": F.stddev_samp,
}


def _gated_cols(specs, n, w):
    """The min-samples-gated aggregate columns for ``specs`` over window
    ``w`` — ONE definition of the gate semantics, shared by the halo and
    plain-window paths so the two dispatch branches of
    ``rolling_multi_auto`` cannot drift apart."""
    cols = {}
    for agg, col, out in specs:
        gate = F.count(F.col(col)).over(w)
        cols[out] = F.when(gate >= n, _AGG_FNS[agg](F.col(col)).over(w))
    return cols


def halo_rolling_multi(
    df: DataFrame,
    specs: Sequence[tuple[str, str, str]],
    n: int,
    order_cols: Sequence[str] = ("timestamp", "seq"),
    buckets: int = 8,
    bucket_by: str | None = None,
    partition_cols: Sequence[str] = (),
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact trailing-window aggregates without a single-task window:
    ``specs`` of ``(agg, col, out)`` with ``agg`` ∈ {mean, sum, min, max,
    std} and one shared window length ``n``, in ONE halo pass — one
    shuffle, one sort, one window stage for the whole family.  Each
    ``out`` carries the min-samples gate (NULL until the frame holds
    ``n`` non-null rows).  Pass ``bucket_by`` (a monotone numeric key) to
    bucket arithmetically with no global sort.

    ``partition_cols`` generalizes the kernel to per-key rolling (e.g.
    per-symbol): the halo flows bucket→bucket *within* each key, turning
    a few-keys window (parallelism = #keys) into #keys × #buckets tasks.
    Every populated sending (key, bucket) must hold ≥ n-1 rows —
    time-uniform keys and buckets ≤ rows/(#keys·(n-1)) satisfy it."""
    bucketed = _with_bucket(df, order_cols, buckets, bucket_by, bounds)
    full = halo_frame(bucketed, order_cols, partition_cols, back=n - 1)
    w = (
        Window.partitionBy(*partition_cols, "_bucket")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    # Bucket 1 has no halo, so its warm-up gate is globally exact; buckets
    # ≥2 see their true n-1 preceding rows via the halo.
    rolled = full.withColumns(_gated_cols(specs, n, w))
    return rolled.filter(~F.col("_halo")).drop("_bucket", "_halo")


def parquet_footer_stats(
    path: str, column: str | None = None
) -> tuple[int, float | None, float | None]:
    """``(n_rows, lo, hi)`` for a parquet file/directory from FOOTER
    metadata only — no Spark job, no data pass.

    This is the "catalog metadata" path the halo kernels' ``bounds`` /
    ``n_rows`` parameters were designed for: at 100 TB the alternative is
    a full ``agg(min, max, count)`` scan of the fact table before any real
    work starts.  Parquet writers store exact per-row-group min/max
    statistics and row counts in the footer, so the driver reads a few KB
    per file instead (on a real cluster this same information comes from
    the table catalog / manifest, e.g. Delta or Iceberg column stats).

    ``lo``/``hi`` are cast to float; ``date32`` statistics convert to unix
    seconds at UTC midnight — identical to Spark's
    ``unix_timestamp(date_col)`` under the engine's pinned UTC session
    timezone (sources/prices.py).  If any row group lacks statistics for
    ``column``, ``lo``/``hi`` come back None and the caller must fall back
    to a scan; ``n_rows`` is always exact.
    """
    import calendar
    import datetime
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    # recursive: hive-partitioned / nested datasets keep their files under
    # key=value subdirectories — a top-level glob would silently report
    # n_rows=0 (and the size dispatch would then pick the single-task path
    # for billions of rows)
    files = (
        sorted(
            f
            for f in _glob.glob(
                os.path.join(path, "**", "*.parquet"), recursive=True
            )
            if not os.path.basename(f).startswith(("_", "."))
        )
        if os.path.isdir(path)
        else [path]
    )
    n_rows, lo, hi, stats_ok = 0, None, None, column is not None
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        if not stats_ok:
            continue
        try:
            ci = md.schema.names.index(column)
        except ValueError:
            stats_ok = False
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                stats_ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, datetime.datetime):
                # naive timestamp stats ≡ UTC under the engine's pinned
                # session timezone.  Whole seconds only (timetuple drops
                # the microsecond = floor): Spark's unix_timestamp()
                # truncates to seconds, and floor is monotone, so
                # floor(min/max stat) equals min/max of the per-row
                # truncated values — including sub-second data.
                mn = calendar.timegm(mn.timetuple())
                mx = calendar.timegm(mx.timetuple())
            elif isinstance(mn, datetime.date):
                epoch = datetime.date(1970, 1, 1)
                mn = (mn - epoch).days * 86400.0
                mx = (mx - epoch).days * 86400.0
            mn, mx = float(mn), float(mx)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
    if not stats_ok:
        lo = hi = None
    return n_rows, lo, hi


#: Row-count threshold for the size-based kernel dispatch: below this the
#: halo kernels' fixed overhead (bucket-bounds scan, halo union, dedup
#: filter, extra shuffle) dominates and the plain window form — though it
#: plans a SinglePartition exchange for global orders — is faster.
#: Retuned r13 from an ABBA probe of the full lineitem_rsi_halo shape
#: (global halo lag + per-symbol rolling) on local[32]: 600k rows plain
#: wins (2.45 s vs 3.20 s warm); 2.4M rows halo wins 1.4× (6.0 s vs
#: 9.0 s); 7.8M rows halo wins 2.2× (10.4 s vs 24.9 s).  Crossover ≈
#: 1–1.5M rows; the gate sits at 2M with margin on the plain side —
#: mis-gating just below costs a bounded single-task stage, while the
#: old 8M gate left a 3–4× win on the table across 2–8M rows (and the
#: single-task sort grows super-linearly from there).  Override per
#: call via ``min_rows`` / ``halo=``.
HALO_MIN_ROWS = 2_000_000

#: Engage threshold for the fluent API's PER-SYMBOL halo sessions, in
#: rows per symbol.  Higher than the global threshold because the plain
#: per-symbol form already runs #symbols tasks in parallel while the
#: halo session pays ~4 full-data exchanges to build (bucket shuffle,
#: tail/head row_number passes, union + the window shuffle).
#: Calibration-clean ABBA probe (r12, par_min 723 MB/s / 83% scaling,
#: load_ok — SCALING.md §Round 12): 3×3.3M rows plain wins ~2×
#: (12.7 s vs 25.6 s); 2×9M is a wash with the plain form bimodal on
#: sort spill (44–170 s vs halo's steady ~129 s); by 2×18M the halo
#: session is ahead (~162 s vs ~190 s) and its lead grows with data —
#: the single-symbol sort is spill-bound from there on.  Crossover ≈
#: 16–18M rows/symbol on this host → the gate sits at 16M (an absolute
#: constant since r13 — it tracks the r12 per-key measurement, not the
#: global gate, which r13 retuned independently): early engagement near
#: the wash point costs nothing measurable, while a too-late gate
#: inherits the unbounded spill regime.  `halo=True` / `False` force
#: either form where the caller knows better (e.g. a real cluster with
#: far more cores than symbols).
PER_KEY_HALO_MIN_ROWS = 16_000_000


def rolling_multi_auto(
    df: DataFrame,
    specs: Sequence[tuple[str, str, str]],
    n: int,
    order_cols: Sequence[str] = ("timestamp", "seq"),
    buckets: int = 8,
    bucket_by: str | None = None,
    partition_cols: Sequence[str] = (),
    bounds: tuple[float, float] | None = None,
    n_rows: int | None = None,
    min_rows: int = HALO_MIN_ROWS,
) -> DataFrame:
    """Size-dispatched trailing-window aggregates: the halo kernel
    (:func:`halo_rolling_multi`) at scale, the plain single-window form
    below ``min_rows`` where the halo's fixed overhead dominates.

    ``n_rows``: caller-provided row count — catalog metadata
    (``parquet_footer_stats``), or folded into an aggregate the caller
    already runs (e.g. the ``bounds`` min/max scan).  When None, one
    ``df.count()`` decides — cheap ONLY for raw parquet scans (row-group
    metadata); on a derived frame it executes the whole upstream lineage
    once for the dispatch and again for the chosen path, so always pass
    ``n_rows`` there.  Both paths produce identical values including the
    min-samples warm-up gate."""
    if n_rows is None:
        n_rows = df.count()
    if n_rows < min_rows:
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(*[F.col(c) for c in order_cols])
            .rowsBetween(-(n - 1), Window.currentRow)
        )
        return df.withColumns(_gated_cols(specs, n, w))
    return halo_rolling_multi(
        df,
        specs,
        n,
        order_cols=order_cols,
        buckets=buckets,
        bucket_by=bucket_by,
        partition_cols=partition_cols,
        bounds=bounds,
    )


def lag_auto(
    df: DataFrame,
    col: str,
    k: int = 1,
    order_cols: Sequence[str] = ("timestamp", "seq"),
    buckets: int = 8,
    out: str = "_lagged",
    bucket_by: str | None = None,
    partition_cols: Sequence[str] = (),
    bounds: tuple[float, float] | None = None,
    n_rows: int | None = None,
    min_rows: int = HALO_MIN_ROWS,
) -> DataFrame:
    """Size-dispatched ``lag(col, k)``: :func:`halo_lag` at scale, the
    plain window form below ``min_rows`` (see :func:`rolling_multi_auto`
    for the dispatch contract)."""
    if n_rows is None:
        n_rows = df.count()
    if n_rows < min_rows:
        w = Window.partitionBy(*partition_cols).orderBy(
            *[F.col(c) for c in order_cols]
        )
        return df.withColumn(out, F.lag(col, k).over(w))
    return halo_lag(
        df,
        col,
        k,
        order_cols=order_cols,
        buckets=buckets,
        out=out,
        bucket_by=bucket_by,
        partition_cols=partition_cols,
        bounds=bounds,
    )


def halo_lag(
    df: DataFrame,
    col: str,
    k: int = 1,
    order_cols: Sequence[str] = ("timestamp", "seq"),
    buckets: int = 8,
    out: str = "_lagged",
    bucket_by: str | None = None,
    partition_cols: Sequence[str] = (),
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact ``lag(col, k)`` over a global (or per-key) total order without
    a single-task window — same halo scheme as :func:`halo_rolling_multi`
    with a ``k``-row halo.  The first ``k`` rows of the frame get NULL
    (bucket 1 has no halo), exactly like the plain window form."""
    bucketed = _with_bucket(df, order_cols, buckets, bucket_by, bounds)
    full = halo_frame(bucketed, order_cols, partition_cols, back=k)
    w = Window.partitionBy(*partition_cols, "_bucket").orderBy(
        *[F.col(c) for c in order_cols]
    )
    lagged = full.withColumn(out, F.lag(col, k).over(w))
    return lagged.filter(~F.col("_halo")).drop("_bucket", "_halo")


_CARRY_SCHEMA = T.StructType(
    [
        T.StructField("_bucket", T.IntegerType()),
        T.StructField("decay", T.DoubleType()),
        T.StructField("l_end", T.DoubleType()),
        T.StructField("n_null", T.LongType()),
    ]
)


def ewm_chunked(
    df: DataFrame,
    col: str,
    alpha: float,
    order_cols: Sequence[str] = ("timestamp", "seq"),
    buckets: int = 8,
    out: str = "_ewm",
    bucket_by: str | None = None,
    join_back: bool = True,
) -> DataFrame:
    """Exact distributed EWM (adjust=False, y₀ = x₀) over one global series
    — two parallel passes + a driver fold of ``buckets`` carry pairs.

    Pass ``bucket_by`` (monotone numeric key) for sort-free bucketing.
    Both passes use pandas' C EWM kernel via a seed-prepend: the recurrence
    seeded with carry ``s`` equals ``ewm([s, x₁..xₘ])`` with the first
    output dropped (and zero-seed for pass 1).

    ``join_back=False`` returns just ``(order_cols…, out)`` — the
    scale-lean contract when the caller joins (or doesn't need the other
    columns); the default rejoins the full input frame on the order key,
    which costs one wide hash join (null-safe on the order columns, so a
    null order key never silently drops its row).

    ``col`` must be non-null: pandas' ``ewm(ignore_na=False)``
    renormalizes weights across NaN gaps, so the carry composition
    ``decay = (1-α)^len(chunk)`` (which counts every row as a full decay
    step) would silently diverge from the single-series form the moment a
    null appears.  Pass 1 counts nulls per chunk for free and the driver
    fold raises instead of producing bucket-boundary-dependent values."""
    # Only (order key, value, bucket) flow through the Python passes: the
    # EWM math never reads the other columns, and shipping a wide frame
    # through Arrow twice dominated the cost on wide inputs (measured ~4x
    # at 10M rows x 8 columns).  The result joins back on the order key —
    # a hash join on skinny rows — which requires the total order to be
    # unique (already a precondition: a non-unique order makes the EWM
    # nondeterministic).
    #
    # Materialize the narrow bucketed frame ONCE for the three consumers
    # (pass1 carries, x0 probe, pass2) via an eager localCheckpoint rather
    # than cache(): the caller consumes pass2 lazily so there is no safe
    # point to unpersist a cache (it would leak one cached lineage per
    # call); checkpoint blocks are reclaimed by the ContextCleaner as soon
    # as the returned frame is garbage-collected.
    order = list(order_cols)
    narrow = df.select(*order, *([col] if col not in order else []),
                       *([bucket_by] if bucket_by and bucket_by not in order
                         and bucket_by != col else []))
    bucketed = _with_bucket(narrow, order_cols, buckets, bucket_by).localCheckpoint(
        eager=True
    )

    def _seeded_ewm(xs: pd.Series, seed: float | None) -> pd.Series:
        if seed is None:
            return xs.ewm(alpha=alpha, adjust=False).mean()
        s = pd.concat([pd.Series([seed], dtype="float64"), xs], ignore_index=True)
        return s.ewm(alpha=alpha, adjust=False).mean().iloc[1:].reset_index(drop=True)

    def pass1(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        l_end = float(_seeded_ewm(pdf[col].reset_index(drop=True), 0.0).iloc[-1])
        return pd.DataFrame(
            {
                "_bucket": [int(pdf["_bucket"].iloc[0])],
                "decay": [float((1 - alpha) ** len(pdf))],
                "l_end": [l_end],
                "n_null": [int(pdf[col].isna().sum())],
            }
        )

    carries = bucketed.groupBy("_bucket").applyInPandas(pass1, _CARRY_SCHEMA).collect()
    carries.sort(key=lambda r: r["_bucket"])
    bad = sum(r["n_null"] for r in carries)
    if bad:
        raise ValueError(
            f"ewm_chunked: {col!r} has {bad} null value(s) — the chunk "
            "carry composition assumes a fully non-null series (pandas "
            "renormalizes EWM weights across NaN gaps, so chunked and "
            "single-series results would diverge); fill or drop nulls "
            "first"
        )
    _first = (
        bucketed.filter(F.col("_bucket") == 1).orderBy(*order).select(col).first()
    )
    if _first is None:
        raise ValueError(
            "ewm_chunked: bucket 1 is empty — the bucketing key must "
            "cover the data range (empty input or bounds wider than the "
            "data)"
        )
    x0 = (
        _first[0]
    )

    # Driver fold: y_end(b) = decay_b · y_in(b) + L_end(b); the true seed
    # y₀ = x₀ adds decay_1 · x₀ to bucket 1's zero-seeded L_end
    # (difference (y−L) decays geometrically: y_j − L_j = (1-a)^j · x₀).
    carry_map: dict[int, float | None] = {}
    prev: float | None = None
    for r in carries:
        b, decay, l_end = r["_bucket"], r["decay"], r["l_end"]
        carry_map[b] = prev
        prev = l_end + decay * x0 if b == 1 else decay * prev + l_end

    narrow_fields = [f for f in bucketed.schema.fields if f.name != "_bucket"]
    out_schema = T.StructType(
        [next(f for f in narrow_fields if f.name == c) for c in order]
        + [T.StructField(out, T.DoubleType())]
    )

    def pass2(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        b = int(pdf["_bucket"].iloc[0])
        ys = _seeded_ewm(pdf[col].reset_index(drop=True), carry_map.get(b))
        pdf[out] = ys.to_numpy()
        return pdf[order + [out]]

    res = bucketed.groupBy("_bucket").applyInPandas(pass2, out_schema)
    if not join_back:
        return res
    # eqNullSafe: a null order key must rejoin its row, not vanish (plain
    # inner equi-join never matches NULL == NULL)
    r = res
    for c in order:
        r = r.withColumnRenamed(c, f"_r_{c}")
    cond = None
    for c in order:
        term = F.col(c).eqNullSafe(F.col(f"_r_{c}"))
        cond = term if cond is None else cond & term
    return df.join(r, cond).drop(*[f"_r_{c}" for c in order])


def _with_bucket_offsets(
    rows: DataFrame,
    group_cols: Sequence[str],
    aggs: dict[str, Column],
    fill: int | None = None,
) -> DataFrame:
    """``rows`` (a range-bucketed frame) joined to the EXCLUSIVE prefix
    offsets of per-(group, bucket) aggregates — the one bucket-offset
    scan behind :func:`grouped_row_number` and :func:`global_cum_sum`.

    ``aggs`` maps each offset column to its per-bucket aggregate; the
    offset of a bucket is the running sum of that aggregate over the
    group's earlier buckets (NULL for a group's first bucket unless
    ``fill`` is given).  The prefix window runs over ≤ groups·buckets
    rows ordered by ``_bucket`` only, so the tiny table stays tiny: two
    skinny exchanges (the aggregate + the broadcast back), no data-sized
    shuffle.  The join back is null-safe on the group keys, so NULL
    groups keep their rows (a plain equi-join would silently drop
    them)."""
    gcols = list(group_cols)
    per_bucket = rows.groupBy(*gcols, "_bucket").agg(
        *[agg.alias(f"_pb{name}") for name, agg in aggs.items()]
    )
    woff = (
        Window.partitionBy(*gcols)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = {name: F.sum(f"_pb{name}").over(woff) for name in aggs}
    if fill is not None:
        offs = {name: F.coalesce(o, F.lit(fill)) for name, o in offs.items()}
    # rename only after the window, so the aggregate keeps a single
    # `_bucket` output column
    offsets = per_bucket.select(*gcols, "_bucket", *[
        o.alias(name) for name, o in offs.items()
    ]).select(
        *[F.col(c).alias(f"_go_{c}") for c in gcols],
        F.col("_bucket").alias("_go_bucket"),
        *aggs,
    )
    cond = F.col("_bucket") == F.col("_go_bucket")
    for c in gcols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_go_{c}"))
    return rows.join(F.broadcast(offsets), cond).drop(
        "_go_bucket", *[f"_go_{c}" for c in gcols]
    )


def grouped_row_number(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    buckets: int = 32,
    bucket_by: str | None = None,
    bounds: tuple[float, float] | None = None,
    out: str = "rn",
) -> DataFrame:
    """Contiguous per-group ``row_number()`` without one task per group
    — and, with ``group_cols=()``, the contiguous GLOBAL row number
    without the single-task window Spark plans for
    ``Window.orderBy(...)``: the classic "enumerate 100 TB" primitive
    (``monotonically_increasing_id`` is non-contiguous and non-ordered;
    RDD ``zipWithIndex`` leaves the DataFrame/Catalyst world).

    ``Window.partitionBy(group).orderBy(...)`` serializes each group into
    a single task, which at 100 TB with a handful of giant groups (e.g.
    5 corpus sources) is exactly the global-sort bottleneck the range-
    bucket kernels exist to avoid.  Scheme: range-bucket every row on a
    numeric key MONOTONE in the within-group order (``bucket_by`` — for
    a rank-by-value use the value column itself; bounds skip its min/max
    scan), ``row_number`` per (group, bucket) in parallel, plus the
    bucket's in-group start offset: a prefix sum over the per-(group,
    bucket) counts (:func:`_with_bucket_offsets`).  Parallelism is
    groups × buckets instead of groups.  Exact: equal keys share a
    bucket, so the in-bucket order extends the bucket order to the
    group's total order.  NULL group keys are supported.
    """
    gcols = list(group_cols)
    bucketed = _with_bucket(df, order_cols, buckets, bucket_by, bounds)
    win = Window.partitionBy(*gcols, "_bucket").orderBy(
        *[F.col(c) for c in order_cols]
    )
    return (
        _with_bucket_offsets(
            bucketed.withColumn("_lrn", F.row_number().over(win)),
            gcols,
            {"_off": F.count(F.lit(1))},
            fill=0,
        )
        .withColumn(out, (F.col("_lrn") + F.col("_off")).cast("long"))
        .drop("_bucket", "_lrn", "_off")
    )


def global_cum_sum(
    df: DataFrame,
    cols: Sequence[str],
    order_cols: Sequence[str] = ("timestamp", "seq"),
    buckets: int = 32,
    bucket_by: str | None = None,
    bounds: tuple[float, float] | None = None,
    prefix: str = "_cum_",
) -> DataFrame:
    """Exact global (un-partitioned) running sums for the cumulative
    operator family (vwap/obv/vpt/adi/cumulative_returns) WITHOUT the
    single-task window Spark plans for an unbounded-preceding global frame.

    Same scheme as the global :func:`grouped_row_number`, with per-bucket
    SUMS in the prefix-sum instead of counts — and all ``cols`` share one
    bucketing, one skinny aggregate, one broadcast, one per-bucket window
    stage.  Null handling matches ``F.sum`` over a running frame: nulls
    contribute nothing, and rows before the first non-null still get NULL
    only when the running frame holds no values — here the bucket offset
    makes every later bucket non-null once any earlier value exists,
    which is exactly the unpartitioned-window semantics for sum (sum over
    empty+null frame = NULL, else nulls skipped).
    """
    bucketed = _with_bucket(df, order_cols, buckets, bucket_by, bounds)
    out = _with_bucket_offsets(
        bucketed, (), {f"_off_{c}": F.sum(c) for c in cols}
    )
    win = (
        Window.partitionBy("_bucket")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # zero literal in the offset column's own sum dtype (long for integer
    # inputs, double for floats) so the output matches the global-window
    # F.sum result type instead of silently widening ints to double
    schema = out.schema
    for c in cols:
        local = F.sum(c).over(win)
        zero = F.lit(0).cast(schema[f"_off_{c}"].dataType)
        # NULL offset (no earlier values) + NULL local = NULL, matching the
        # global-window result; otherwise treat the missing side as 0.
        total = F.when(
            F.col(f"_off_{c}").isNull() & local.isNull(), F.lit(None)
        ).otherwise(F.coalesce(F.col(f"_off_{c}"), zero) + F.coalesce(local, zero))
        out = out.withColumn(f"{prefix}{c}", total)
    return out.drop("_bucket", *[f"_off_{c}" for c in cols])


def profile_key_skew(
    df: DataFrame,
    key: str,
    top_k: int = 20,
) -> DataFrame:
    """Join/groupBy key-skew profile: the ``top_k`` heaviest key values
    with their row counts, corpus share, and the skew factor
    (count / mean-rows-per-key) — the diagnostic that decides whether a
    planned shuffle needs salting, AQE skew-join splitting, or a
    broadcast rewrite BEFORE the job runs at 100 TB (a key with skew
    factor 10⁴ means one reducer does 10⁴× the average work).

    Scale shape: one map-side-combined groupBy on the key, then a
    ``TakeOrdered`` top-k (never a full sort) against the broadcast
    1-row total.  Ties order by key string so the profile is
    deterministic across engines.  Output: (key_value, n_rows, share,
    skew_factor, rank).
    """
    per_key = df.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = per_key.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_nkeys"),
    )
    # top-k via orderBy+limit = TakeOrderedAndProject (per-partition
    # heaps + driver merge of k rows); rank attaches AFTER the limit so
    # no global-sort or single-partition window ever runs over the full
    # key table (same plan discipline as corpus_vocab_stats)
    top = per_key.orderBy(
        F.col("n_rows").desc(), F.col("key_value")
    ).limit(top_k)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n_rows").desc(), F.col("key_value"))
        ),
    ).crossJoin(F.broadcast(totals))
    return ranked.select(
        "key_value",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") / F.col("_total")).alias("share"),
        (F.col("n_rows") * F.col("_nkeys") / F.col("_total")).alias(
            "skew_factor"
        ),
        F.col("rank").cast("long").alias("rank"),
    )


def zorder_key(cols: list, bits: int = 8):
    """Morton (Z-order) interleave of ``len(cols)`` bucketized dimensions,
    ``bits`` low bits each — the multi-dimensional clustering sort key
    for data LAYOUT at scale.

    Sorting a 100 TB table by one column gives perfect min/max pruning on
    that column and none on any other; writing files in Z-key order bounds
    EVERY interleaved dimension's range per file (each file covers a
    Z-curve segment ≈ a small hyper-rectangle), so parquet footer min/max
    skips files for predicates on any of them — the Delta/Iceberg
    OPTIMIZE ZORDER BY layout, computed here as a pure codegen expression
    (no shuffle beyond the final range sort/partitioning that writes the
    files).

    ``cols`` are Columns already bucketized to ``[0, 2^bits)`` (caller
    picks the bucketing: modulo, ntile, epoch-month…).  Bit j of
    dimension d lands at interleaved position ``j·D + d`` — identical
    integer arithmetic is expressible in any SQL dialect, so the key is
    engine-portable and oracle-checkable.  ``bits × len(cols)`` must fit
    in 63 bits: Spark's shiftleft takes the shift count mod 64, so wider
    keys would silently collide.
    """
    from pyspark.sql import functions as F

    ndim = len(cols)
    if bits * ndim > 63:
        raise ValueError(
            f"zorder_key: bits({bits}) x dims({ndim}) = {bits * ndim} "
            "exceeds 63 — Spark's shiftleft wraps shift counts mod 64, "
            "which would silently interleave colliding bits; lower bits "
            "(<= 63 // dims)"
        )
    key = None
    for d, c in enumerate(cols):
        for j in range(bits):
            term = F.shiftleft(
                F.shiftright(c.cast("long"), j).bitwiseAND(F.lit(1)),
                j * ndim + d,
            )
            key = term if key is None else key + term
    return key.cast("long")


def weighted_quantiles(
    df,
    group: str,
    value: str,
    weight: str,
    qs: tuple = (0.25, 0.5, 0.75),
    bucket=None,
):
    """Exact weighted quantiles per group WITHOUT sorting the data.

    The textbook form — a cumulative-weight window ordered by value — puts
    each group's entire data through one sorted reducer: at 100 TB with a
    handful of groups (the common case: quantiles per flag/status/source)
    that is a single-task sort.  This two-pass form never materializes a
    per-row global order:

    1. **Histogram pass**: map-side-combined groupBy on (group, value
       bucket) sums weights — massively parallel, output is one row per
       occupied bucket (≤ distinct-bucket count, independent of n).
    2. The tiny histogram gets per-group prefix sums (window over ~10³
       bucket rows, not data rows); for each quantile q the BOUNDARY
       bucket is the one whose cumulative weight first reaches
       ``q · total`` (``cum_before < target ≤ cum_through``).
    3. **Resolve pass**: only rows in boundary buckets (a ~1/buckets
       fraction of the data) shuffle once more; a within-bucket
       cumulative weight ordered by value, offset by the bucket's
       ``cum_before``, yields the exact quantile value — the smallest v
       with ``W(≤v) ≥ q·total``, identical to the sorted definition.

    Ties on value are deterministic without a row tie-break: the crossing
    row's value is unique regardless of intra-tie order.  NULL values or
    weights are excluded (documented; mirror in any oracle).  ``bucket``
    defaults to ``floor(value)`` — any coarser/finer monotone bucketing
    works (correctness never depends on it, only the resolve-pass size).

    Returns one row per group: ``(group, wq{int(q*100)}...)``.
    """
    from pyspark.sql import functions as F

    vals = df.filter(
        F.col(value).isNotNull() & F.col(weight).isNotNull()
    ).select(
        F.col(group).alias("_g"),
        F.col(value).alias("_v"),
        F.col(weight).cast("double").alias("_w"),
    )
    bexpr = bucket if bucket is not None else F.floor(F.col("_v"))
    vals = vals.withColumn("_b", bexpr.cast("long"))

    hist = vals.groupBy("_g", "_b").agg(F.sum("_w").alias("_bw"))
    wb = Window.partitionBy("_g").orderBy("_b")
    cum = (
        hist.withColumn(
            "_cum",
            F.sum("_bw").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("_tot", F.sum("_bw").over(Window.partitionBy("_g")))
        # _before must equal the PREVIOUS bucket's _cum exactly, or float
        # rounding opens a gap (prev._cum < target <= this._cum - _bw) that
        # matches no boundary bucket and silently drops the quantile.
        # lag(_cum) makes the (_before, _cum] intervals partition the weight
        # axis bit-for-bit, so every target matches exactly one bucket.
        .withColumn("_before", F.lag("_cum", 1, 0.0).over(wb))
    )
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    bounds = (
        cum.select("_g", "_b", "_before", "_tot", F.explode(qarr).alias("_q"))
        .withColumn("_target", F.col("_q") * F.col("_tot"))
        .filter(
            (F.col("_before") < F.col("_target"))
            & (F.col("_cum") >= F.col("_target"))
        )
        .select("_g", "_b", "_q", "_target", "_before")
    )
    # resolve: within-boundary-bucket running weight ordered by value.
    # The histogram summed the bucket's weights in arbitrary combine
    # order while _run re-sums them in value order — float rounding can
    # leave max(_run) a ulp below _target when the crossing is the
    # bucket's last row, so the hit is coalesced with the bucket max
    # (the value the exact definition picks in that case) instead of
    # silently yielding a NULL quantile.
    wv = Window.partitionBy("_g", "_q").orderBy("_v")
    resolved = (
        vals.join(bounds, ["_g", "_b"])
        .withColumn(
            "_run",
            F.col("_before")
            + F.sum("_w").over(wv.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("_g", "_q")
        .agg(
            F.min(
                F.when(F.col("_run") >= F.col("_target"), F.col("_v"))
            ).alias("_hit"),
            F.max("_v").alias("_bmax"),
        )
        .select(
            "_g", "_q", F.coalesce("_hit", "_bmax").alias("_val")
        )
    )
    aggs = [
        F.max(
            F.when(F.col("_q") == float(q), F.col("_val"))
        ).alias(f"wq{int(q * 100)}")
        for q in qs
    ]
    return resolved.groupBy(F.col("_g").alias(group)).agg(*aggs)


#: Complete-value-table bound of the exact-selection engine: when the
#: live intervals are KNOWN (exact row bookkeeping: distinct values ≤
#: rows) or SPECULATED (plan-size gate below) to hold at most this many
#: (group, value) pairs, ONE Arrow collect of their per-value weight
#: table answers every rank with the driver walk — replacing every
#: further histogram round and the in-Spark residue (whose agg →
#: global-window chain runs three sequential AQE stages).  1M pairs
#: ≈ 24 MB through Arrow.  0 disables.
DRIVER_TABLE_MAX_ROWS = 1 << 20

#: Speculative pre-stats gate: optimizer size estimate below which the
#: engine tries the value-table collect BEFORE its stats pass, saving
#: that job too (2 jobs → 1 for small inputs).  A miss — the capped
#: collect saturates — wastes one bounded job, so the gate is
#: deliberately small; at 100 TB the estimate is TB-sized and the
#: engine never speculates (the stats-then-refine flow is untouched
#: there).  The gate changes cost only: every path feeds the same
#: stats and the same driver walk.
SPECULATIVE_TABLE_MAX_BYTES = 64 << 20

_NAN = float("nan")
_NO_ROWS = (np.empty(0), np.empty(0, dtype="int64"), 0, None)


def _plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate for ``df`` — advisory only (gates a
    perf-only speculation, never a semantics choice)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - py4j estimation hiccup
        return 1 << 62


def _gkey(g):
    """Group key as a plain Python scalar, with every NaN mapped to ONE
    object: Spark's groupBy and join keep NaN as one group, but two
    fresh NaN floats never meet in a dict lookup."""
    if isinstance(g, np.generic):
        g = g.item()
    return _NAN if g != g else g


def _frac_rank(frac: float, total: int) -> int:
    """THE frac→rank rule of every selection kernel:
    ``max(1, ceil(frac·total))`` in exact INTEGER arithmetic.  A float
    multiply drifts at boundaries (0.9·30 = 27.000000000000004 → ceil
    28, while the oracle's (9n+9)//10 says 27); ``limit_denominator``
    recovers the intended short decimal (0.9 → 9/10) exactly."""
    fr = Fraction(frac).limit_denominator(1_000_000)
    return max(1, -((-fr.numerator * int(total)) // fr.denominator))


@dataclass(eq=False)
class _Segment:
    """One group's live interval ``[lo, hi]``: ``below`` is the exact
    weight of the group's rows left of ``lo``, ``n`` the exact row count
    inside (``None`` once a defensive route loses it), ``targets`` the
    ``(key, weight rank)`` pairs that resolved into the interval,
    ascending by rank."""

    g: object
    lo: float
    hi: float
    below: int
    n: int | None
    targets: list
    done: bool = False


def _rows(segs) -> float:
    """Exact row count of the segments (inf when one is unknown)."""
    if any(s.n is None for s in segs):
        return float("inf")
    return sum(s.n for s in segs)


def _collect_value_table(vals: DataFrame, cap: int | None):
    """The per-(group,) value weight table as ONE Arrow collect:
    ``groupBy(value).agg(sum(w), count, min(w))``, split on the driver
    into ``{group: (ascending values, weight sums, rows, min weight)}``
    — the complete, order-free-exact input to the driver walk.  With
    ``cap`` set the collect is bounded (``limit(cap+1)``) and returns
    ``None`` when it saturates; without it the caller has already proven
    the row bound from exact bookkeeping."""
    grouped = "_g" in vals.columns
    agg = vals.groupBy(*(["_g"] if grouped else []), "_v").agg(
        F.sum("_w").alias("_tw"),
        F.count(F.lit(1)).alias("_c"),
        F.min("_w").alias("_mw"),
    )
    if cap is not None and cap <= 0:
        return None
    pdf = (agg.limit(cap + 1) if cap is not None else agg).toPandas()
    if cap is not None and len(pdf) > cap:
        return None
    if grouped:
        parts = pdf.groupby("_g", sort=False, dropna=False)
    else:
        parts = [(None, pdf)] if len(pdf) else []
    table = {}
    for g, sub in parts:
        sub = sub.sort_values("_v", kind="mergesort")
        table[_gkey(g)] = (
            sub["_v"].to_numpy(dtype="float64"),
            sub["_tw"].to_numpy(dtype="int64"),
            int(sub["_c"].sum()),
            int(sub["_mw"].min()),
        )
    return table


def _in_segments(vals: DataFrame, segs: list, buckets: int) -> DataFrame:
    """The rows of ``vals`` inside the segments' intervals, each tagged
    with its segment's id ``_s``, interval ``_lo``/``_hi``, bucket width
    ``_bw`` and in-segment rank targets ``_ts``: ONE scan filtered by the
    pushable range envelope, joined to a broadcast segment table.  Live
    intervals are pairwise disjoint within a group, so each row matches
    at most one segment; grouped input also matches the group key
    (Spark's join equates NaN keys, as its groupBy does).  ``_hi`` is
    carried explicitly: filtering on ``lo + bw·buckets`` could
    float-drift below the true hi and drop boundary rows."""
    grouped = "_g" in vals.columns
    schema = T.StructType(
        [T.StructField("_s", T.IntegerType())]
        + ([T.StructField("_sg", vals.schema["_g"].dataType)] if grouped else [])
        + [T.StructField(c, T.DoubleType()) for c in ("_lo", "_hi", "_bw")]
        + [T.StructField("_ts", T.ArrayType(T.LongType()))]
    )
    rows = [
        (i, *([s.g] if grouped else []), float(s.lo), float(s.hi),
         (s.hi - s.lo) / buckets, [t - s.below for _, t in s.targets])
        for i, s in enumerate(segs)
    ]
    # built from Arrow: a local relation whose broadcast takes
    # milliseconds (a list-built relation pays a ~0.2 s Python scan job
    # per round), and unlike pandas input Arrow keeps a NaN group key
    # NaN instead of nulling it
    table = vals.sparkSession.createDataFrame(
        pa.table(dict(zip(schema.names, map(list, zip(*rows))))), schema
    )
    v = F.col("_v")
    on = (v >= F.col("_lo")) & (v <= F.col("_hi"))
    if grouped:
        on = (F.col("_g") == F.col("_sg")) & on
    envelope = (v >= min(s.lo for s in segs)) & (v <= max(s.hi for s in segs))
    return vals.filter(envelope).join(F.broadcast(table), on)


def _refine(vals: DataFrame, live: list, buckets: int) -> list:
    """One histogram round for EVERY live segment: a (segment, bucket)
    weight/row/min/max aggregate over ``buckets`` arithmetic sub-ranges
    per segment, then each segment splits into one new segment per
    bucket where some of its targets cross.

    Each new interval is snapped to its bucket's ACTUAL ``[min, max]``
    rather than the arithmetic boundaries ``lo + b·width``:
    ``floor((v-lo)/width)`` is monotone non-decreasing in v (IEEE
    subtraction/division are correctly rounded, hence monotone), so a
    bucket's rows occupy one contiguous value range and the next round's
    closed range filter selects EXACTLY the rows counted here —
    ``below``/``n`` stay exact inductively, and no boundary row is
    double-counted (arithmetic boundaries can float-drift across the
    floor expression).  Snapping also collapses an interval far wider
    than its data at no extra scan.  A bucket matching its segment
    exactly is the no-progress case (the width underflowed ulp, or
    ±inf made it degenerate): the segment is done, its count still
    exact."""
    idx = F.least(
        F.floor((F.col("_v") - F.col("_lo")) / F.col("_bw")).cast("int"),
        F.lit(buckets - 1),
    )
    hist = defaultdict(dict)
    for r in (
        _in_segments(vals, live, buckets)
        .groupBy("_s", idx.alias("_b"))
        .agg(
            F.sum("_w").alias("_cw"),
            F.count(F.lit(1)).alias("_n"),
            F.min("_v").alias("_mn"),
            F.max("_v").alias("_mx"),
        )
        .collect()
    ):
        hist[r["_s"]][r["_b"]] = (r["_cw"], r["_n"], r["_mn"], r["_mx"])
    out = []
    for i, s in enumerate(live):
        cum, pending = s.below, list(s.targets)
        for b in sorted(hist[i]):
            cw, n, mn, mx = hist[i][b]
            picked = []
            while pending and cum + cw >= pending[0][1]:
                picked.append(pending.pop(0))
            if picked:
                done = (mn, mx, n) == (s.lo, s.hi, s.n)
                out.append(_Segment(s.g, mn, mx, cum, n, picked, done))
            cum += cw
        if pending:
            # unreachable with exact bookkeeping (bucket weights total
            # the in-range weight and below < target ≤ below + in-range
            # weight holds inductively); the whole interval goes to the
            # in-Spark residue, which answers exactly or raises
            out.append(_Segment(s.g, s.lo, s.hi, s.below, None, pending, True))
    return out


def _walk(seg: _Segment, v, cum, out: dict, label: str) -> None:
    """THE driver walk: over one segment's values (ascending) and their
    cumulative in-segment weights, each target resolves to the smallest
    value whose cumulative weight reaches ``target − below``.  Exact and
    order-free: weights are integral and values NaN-free doubles (the
    groupBy normalizes -0.0), so this is the same total order as an
    in-Spark ``ORDER BY _v`` prefix sum."""
    for key, t in seg.targets:
        i = int(np.searchsorted(cum, t - seg.below, side="left"))
        if i >= len(cum):
            raise RuntimeError(
                f"{label}: interval [{seg.lo}, {seg.hi}] of group "
                f"{seg.g!r} holds less than {t - seg.below} weight — "
                "interval bookkeeping violated"
            )
        out[(seg.g, key)] = (t, float(v[i]))


def _select(
    vals: DataFrame,
    ranks: dict | None,
    fracs: list | None,
    buckets: int,
    final_rows: int,
    max_iters: int,
    label: str,
    prior_stats: dict | None = None,
) -> tuple:
    """The one exact-selection engine behind every ``kth_*`` kernel.

    ``vals`` holds ``_v`` (non-NaN double), ``_w`` (integral long
    weight; unit weights for the unweighted kernels) and, for the
    grouped kernels only, ``_g`` — the global kernels are the single
    group ``None`` and plan no grouping key.  Weight ranks per group are
    ``ranks[g]`` (each rank its own key) or, for every group, each
    ``fracs`` entry through :func:`_frac_rank`.  Returns ``(stats,
    {(group, key): (rank, value)})`` with ``stats[g] = (lo, hi,
    total_weight, rows, min_weight)``.

    Flow: stats (a speculative complete value table, the caller's
    ``prior_stats``, or one aggregate) → one segment per group → while
    the segments' exact row count exceeds DRIVER_TABLE_MAX_ROWS and some
    segment holds more than ``final_rows`` rows, one histogram round for
    all live segments at once (:func:`_refine`) → the residue, which is
    just the value table of the surviving intervals: collected and
    walked on the driver when its row count is known to fit, else
    walked in Spark as a per-segment ordered prefix sum (an unknown
    count or rows beyond the bound).  Rank bookkeeping (below, targets)
    runs in the WEIGHT domain; the residue gates and the no-progress
    check run in the ROW domain (residue cost is rows, whatever the
    weights).  Driver state: a few scalars per segment; segments ≤
    groups × ranks."""
    if fracs is not None:
        bad = [f for f in fracs if not 0.0 < f <= 1.0]
        if bad:
            raise ValueError(f"{label}: fracs outside (0, 1]: {bad!r}")
    grouped = "_g" in vals.columns
    table = None
    if _plan_size_bytes(vals) <= SPECULATIVE_TABLE_MAX_BYTES:
        table = _collect_value_table(vals, DRIVER_TABLE_MAX_ROWS)
    if prior_stats is not None:
        # caller-supplied bounds (see kth_element_by_group): loose lo/hi
        # are fine, total weight and rows must be exact
        stats = {_gkey(g): tuple(s) for g, s in prior_stats.items()}
    elif table is not None:
        stats = {
            g: (float(v[0]), float(v[-1]), int(w.sum()), n, mw)
            for g, (v, w, n, mw) in table.items()
        }
    else:
        stats = {
            (_gkey(r["_g"]) if grouped else None): (
                r["lo"], r["hi"], r["tw"], r["n"], r["mw"]
            )
            for r in vals.groupBy(*(["_g"] if grouped else []))
            .agg(
                F.min("_v").alias("lo"),
                F.max("_v").alias("hi"),
                F.sum("_w").alias("tw"),
                F.count(F.lit(1)).alias("n"),
                F.min("_w").alias("mw"),
            )
            .collect()
            if r["n"]
        }

    def where(gs):
        return f" for groups {gs!r}" if grouped else ""

    neg = [g for g, s in stats.items() if s[4] is not None and s[4] < 0]
    if neg:
        raise ValueError(
            f"{label}: negative weight breaks the cumulative-weight "
            f"monotonicity the selection relies on{where(neg)}"
        )
    missing = [g for g in ranks or {} if g not in stats]
    if missing or not (grouped or stats):
        raise ValueError(f"{label}: no non-null rows{where(missing)}")
    segs = []
    for g, (lo, hi, tw, n, _mw) in stats.items():
        if ranks is None:
            pairs = [(f, _frac_rank(f, tw)) for f in fracs]
        elif g in ranks:
            pairs = [(k, k) for k in ranks[g]]
        else:
            continue
        bad = sorted({t for _, t in pairs if not 1 <= t <= tw})
        if bad:
            raise ValueError(
                f"{label}: ranks {bad!r} outside [1, {tw}]{where([g])}"
            )
        segs.append(_Segment(g, lo, hi, 0, n, sorted(pairs, key=lambda p: p[1])))
    if not segs:
        return stats, {}

    if table is None and _rows(segs) <= DRIVER_TABLE_MAX_ROWS:
        # exact stats bound the complete table (distinct ≤ rows); capped
        # anyway because prior_stats may omit groups that vals holds
        table = _collect_value_table(vals, DRIVER_TABLE_MAX_ROWS)
    for rnd in range(max_iters + 1):
        live = [
            s
            for s in segs
            if not s.done and s.n > final_rows and (s.hi - s.lo) / buckets > 0.0
        ]
        if table is not None or not live or _rows(segs) <= DRIVER_TABLE_MAX_ROWS:
            break
        if rnd == max_iters:
            raise RuntimeError(f"{label}: no convergence in {max_iters} passes")
        segs = [s for s in segs if s not in live] + _refine(vals, live, buckets)

    out: dict = {}
    if table is None and _rows(segs) <= DRIVER_TABLE_MAX_ROWS:
        table = _collect_value_table(_in_segments(vals, segs, buckets), None)
    if table is not None:
        for s in segs:
            v, w, _, _ = table.get(s.g, _NO_ROWS)
            a = np.searchsorted(v, s.lo, side="left")
            b = np.searchsorted(v, s.hi, side="right")
            _walk(s, v[a:b], np.cumsum(w[a:b]), out, label)
        return stats, out
    # in-Spark residue: per-segment ordered prefix sum over per-VALUE
    # weights (never raw rows); only the rows where some target crosses
    # come back, and the first of them reaching a target answers it
    cells = defaultdict(list)
    for r in (
        _in_segments(vals, segs, buckets)
        .groupBy("_s", "_ts", "_v")
        .agg(F.sum("_w").alias("_c"))
        .withColumn(
            "_cum",
            F.sum("_c").over(
                Window.partitionBy("_s")
                .orderBy("_v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(
            F.exists(
                "_ts",
                lambda t: (F.col("_cum") - F.col("_c") < t)
                & (t <= F.col("_cum")),
            )
        )
        .select("_s", "_v", "_cum")
        .collect()
    ):
        cells[r["_s"]].append((r["_v"], r["_cum"]))
    for i, s in enumerate(segs):
        vc = sorted(cells[i])
        _walk(
            s,
            [v for v, _ in vc],
            np.array([c for _, c in vc], dtype="int64"),
            out,
            label,
        )
    return stats, out


def _selection_input(
    df: DataFrame,
    value_col: str,
    weight_col: str | None,
    group_col: str | None,
    label: str,
) -> DataFrame:
    """``(_g, _v, _w)`` rows the engine selects from: NULL value, weight
    or group and NaN values are excluded; no weight column means unit
    weights; no group column means no ``_g``."""
    v = F.col(value_col).cast("double")
    keep = v.isNotNull() & ~F.isnan(v)
    cols = [v.alias("_v")]
    if group_col is not None:
        keep = keep & F.col(group_col).isNotNull()
        cols.insert(0, F.col(group_col).alias("_g"))
    if weight_col is None:
        w = F.lit(1).cast("long")
    else:
        keep = keep & F.col(weight_col).isNotNull()
        w = _integral_weight_expr(df, weight_col, label)
    return df.filter(keep).select(*cols, w.alias("_w"))


def _kth_global(
    df, value_col, weight_col, ks, fracs, buckets, final_rows, max_iters, label
) -> tuple:
    """``(total weight, {key: value})`` of the ungrouped engine."""
    if (ks is None) == (fracs is None):
        raise ValueError(f"{label}: pass exactly one of ks/fracs")
    if not (fracs if ks is None else ks):
        raise ValueError(f"{label}: no ranks requested")
    stats, res = _select(
        _selection_input(df, value_col, weight_col, None, label),
        None if ks is None else {None: [int(k) for k in ks]},
        fracs,
        buckets,
        final_rows,
        max_iters,
        label,
    )
    return int(stats[None][2]), {key: v for (_, key), (_, v) in res.items()}


def kth_element(
    df: DataFrame,
    value_col: str,
    k: int,
    buckets: int = 1024,
    final_rows: int = 1 << 20,
    max_iters: int = 256,
) -> float:
    """EXACT k-th smallest value (1-based, ascending, ties counted) of
    ``value_col`` by iterative range refinement — distributed selection
    without a global sort and without buffering values in any executor.

    Spark's exact ``percentile`` aggregate collects every value into one
    aggregation buffer (fine at test scale, firmly not at 100 TB), and a
    global sort materializes the full ordered dataset to select one row.
    The selection classic instead: histogram the current [lo, hi] range
    into ``buckets`` arithmetic sub-ranges (ONE filtered scan + a
    ≤ buckets-row aggregate), find the bucket containing global rank k,
    recurse into it.  Each pass shrinks the candidate interval ×buckets,
    so real-world value ranges resolve in 2–4 scans; when the surviving
    range holds ≤ ``final_rows`` rows (or fits the driver value table,
    ``DRIVER_TABLE_MAX_ROWS``) the answer comes from one exact per-value
    count aggregate over that residue.  The scans are filtered by a
    pushable range predicate — with sorted / z-ordered storage they
    touch a shrinking fraction of the data.

    Driver state per pass: two floats + two longs (the interval and the
    rank already accounted below it) — the standing "K driver scalars
    re-enter as literals" budget.  NULLs are excluded; k must lie in
    [1, count].  Returns the value as a Python float.

    Interval membership and the histogram agree EXACTLY:
    ``floor((v-lo)/width)`` is monotone non-decreasing in v (IEEE
    subtraction/division are correctly rounded, hence monotone), so the
    chosen bucket's rows occupy one contiguous value range and the
    refined interval is snapped to that bucket's ACTUAL ``[min, max]``
    (folded into the same histogram aggregate) rather than the
    arithmetic boundaries ``lo + b*width`` — arithmetic boundaries can
    float-drift across the floor expression and double-count boundary
    rows into both ``below`` and the next interval, shifting the final
    rank.  With data-snapped intervals the next pass's closed range
    filter selects exactly the rows the histogram counted, so
    ``below``/``in_range`` are exact inductively.

    The no-progress guard (interval stops shrinking once its width
    underflows ulp) falls through to the exact residue aggregate, which
    is bounded there by the few representable doubles left in the
    interval; ``max_iters`` is an assertion-style backstop, not a
    truncation — the result is always the exact order statistic.

    ±Infinity values make the arithmetic interval degenerate
    (width = inf), so the no-progress guard routes straight to the
    exact residue — still correct, but that residue is then sized by
    the data rather than ``final_rows``; pre-filter infinities if the
    column can contain them.
    """
    if k < 1:
        raise ValueError(f"kth_element: k must be >= 1, got {k}")
    return _kth_global(
        df, value_col, None, [k], None, buckets, final_rows, max_iters,
        "kth_element",
    )[1][k]


def _integral_weight_expr(df: DataFrame, weight_col: str, label: str):
    """Weight column as a guarded ``long`` expression.

    The weighted selection kernels require non-negative INTEGRAL
    weights (integer sums are exact and accumulation-order-free on
    every engine, keeping the result bit-deterministic against a
    DuckDB-oracle replay).  Fractional-capable dtypes — float, double,
    and any ``decimal(p, s)`` with ``s > 0`` (the native TPC-H type
    for quantity-like columns; DuckDB ROUNDS on decimal→BIGINT while
    Spark truncates, so a silent cast would diverge) — get a per-row
    scan-side ``raise_error`` on non-integral values before the long
    cast.  Integer dtypes and scale-0 decimals pass through unguarded.
    """
    w = F.col(weight_col)
    wtype = dict(df.dtypes).get(weight_col, "")
    fractional = wtype in ("float", "double")
    if wtype.startswith("decimal("):
        try:
            fractional = int(wtype.rstrip(")").split(",")[1]) > 0
        except (IndexError, ValueError):
            fractional = True  # unparseable decimal spec: guard anyway
    if fractional:
        w = F.when(w == F.floor(w), w).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{label}: non-integral weight "),
                    w.cast("string"),
                    F.lit(" — scale fractional weights to a fixed-point grid"),
                )
            )
        )
    return w.cast("long")


def kth_element_weighted(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    wk: int,
    buckets: int = 1024,
    final_rows: int = 1 << 20,
    max_iters: int = 256,
) -> float:
    """EXACT weighted order statistic by iterative range refinement: the
    smallest value ``v`` whose cumulative weight over rows with value
    ``<= v`` reaches ``wk`` — :func:`kth_element` with every count
    replaced by a weight sum (``kth_element(df, c, k)`` ≡
    ``kth_element_weighted(df, c, lit-1-weights, k)``).

    The weighted median/percentile is THE aggregation behind
    token-weighted corpus statistics ("the document quality value such
    that half the corpus's TOKENS sit below it" — a document-weighted
    median over-counts tiny documents) and quantity-weighted price
    statistics; Spark has no exact weighted percentile at all, and the
    relational form (a cumulative-weight window over globally sorted
    values — the registered ``analytic_weighted_quantiles`` shape) pays
    a SinglePartition sort.  This kernel inherits the selection
    classic's shape instead: per pass ONE pushable range-filtered scan
    + a ≤ buckets-row (weight-sum, row-count, min, max) aggregate, four
    driver scalars of state, data-snapped intervals (the r11
    boundary-exactness fix applies verbatim — the floor expression's
    monotonicity argument is weight-independent).

    **Weights must be non-negative integers** (validated eagerly, one
    extra column in the same bounds aggregate): integer weight sums are
    exact and accumulation-order-free, so the result — and its
    DuckDB-oracle replay — is bit-deterministic.  Float weights on a
    fixed-point grid are the caller's one-multiply preprocessing.
    Zero-weight rows are legal and can never be the answer unless they
    tie a weight-bearing value (the "smallest v with cum >= wk" form
    handles them without a special case).  NULL value or NULL weight
    excludes the row, as in the unweighted kernel.
    """
    if wk < 1:
        raise ValueError(f"kth_element_weighted: wk must be >= 1, got {wk}")
    return _kth_global(
        df, value_col, weight_col, [wk], None, buckets, final_rows,
        max_iters, "kth_element_weighted",
    )[1][wk]


def weighted_median(
    df: DataFrame, value_col: str, weight_col: str, **kw
) -> float:
    """Lower weighted median: :func:`kth_element_weighted` at
    ``wk = (W + 1) // 2`` (W = total integral weight) — reduces to the
    unweighted lower median at all-ones weights.  The rank comes from
    the kernel's own bounds pass (``ceil(W/2) == (W+1)//2``), so there
    is no eager total-weight job."""
    return kth_elements_weighted(
        df, value_col, weight_col, fracs=[0.5], **kw
    )[1][0.5]


def kth_elements(
    df: DataFrame,
    value_col: str,
    ks: list | None = None,
    fracs: list | None = None,
    buckets: int = 1024,
    final_rows: int = 1 << 20,
    max_iters: int = 256,
) -> tuple:
    """SEVERAL exact order statistics of one column in SHARED refinement
    passes — the multi-rank form of :func:`kth_element` (VERDICT r12
    #2).  The standard corpus-statistics ask is a PAIR (median + p90) or
    triple of quantiles of the same column; running the single-rank
    kernel per rank re-scans the data once per rank per pass.  This
    kernel refines every requested rank simultaneously, the way
    :func:`kth_element_by_group` shares passes across groups: per pass
    ONE range-filtered scan + a ≤ ranks×buckets-row histogram aggregate
    serves ALL unresolved ranks.

    The key invariant making the sharing exact: all ranks start on the
    same interval, and each pass narrows a rank to one (data-snapped)
    bucket of its segment's partition — so at every stage the live
    intervals are pairwise IDENTICAL or DISJOINT (a laminar family
    refined in lockstep).  Ranks sharing an interval share one segment
    (and one ``below`` count, since their interval's left edge is the
    same); disjoint segments histogram side by side in one scan joined
    to a broadcast segment table.  Resolved segments answer several
    ranks in ONE residue (``min(v | cum >= target)`` per rank — exact
    because the cumulative count is monotone in v).

    ``fracs`` (each in (0, 1]) folds the rank computation into the
    kernel's own bounds pass — ``k = max(1, ceil(frac·N))``, the
    :func:`kth_element` caller convention — so callers need NO eager
    count job before invoking.  Returns ``(total, {key: value})`` where
    ``key`` is each requested k (``ks`` mode) or frac (``fracs`` mode).
    Bit-identical to per-rank :func:`kth_element` calls (same snap
    logic, same residue semantics), pinned in tests.
    """
    return _kth_global(
        df, value_col, None, ks, fracs, buckets, final_rows, max_iters,
        "kth_elements",
    )


def kth_elements_weighted(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    wks: list | None = None,
    fracs: list | None = None,
    buckets: int = 1024,
    final_rows: int = 1 << 20,
    max_iters: int = 256,
) -> tuple:
    """Weighted :func:`kth_elements`: several exact WEIGHTED order
    statistics (smallest v whose cumulative weight reaches each target)
    in shared passes.  Same integral non-negative weight contract as
    :func:`kth_element_weighted` (integer weight sums are exact and
    accumulation-order-free → bit-deterministic against a DuckDB-oracle
    replay); ``fracs`` targets are ``max(1, ceil(frac·W))`` with W the
    total weight from the kernel's own bounds pass — the token-weighted
    median + p90 pair costs one bounds pass, shared refinement scans,
    and per-resolved-segment residues, instead of an eager weight agg
    plus two full single-rank runs.  Returns ``(total_weight,
    {key: value})``."""
    return _kth_global(
        df, value_col, weight_col, wks, fracs, buckets, final_rows,
        max_iters, "kth_elements_weighted",
    )


def kth_element_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ks: dict | None = None,
    frac: float | None = None,
    buckets: int = 1024,
    final_rows: int = 1 << 20,
    max_iters: int = 256,
    prior_stats: dict | None = None,
) -> DataFrame:
    """EXACT per-group k-th smallest value — every group refined
    SIMULTANEOUSLY, one histogram pass per round for all groups at once
    (the grouped counterpart of :func:`kth_element`; same selection
    classic, same guarantees).

    Rank per group: ``ks[group]`` (1-based) when given, else the
    ``frac`` order statistic ``k_g = max(1, ceil(frac·n_g))`` — e.g.
    ``frac=0.5`` is the lower median, the "exact median per source"
    question.  Returns a DataFrame ``(group_col, n, k, value)`` built
    from the driver's per-group scalars (groups × 4 values — the
    standing K-driver-literals budget).  A NaN group key is one group,
    as in Spark's ``groupBy``.

    Each round: one scan computes a (group, bucket) histogram for every
    UNRESOLVED group against its own interval (a broadcast ≤groups-row
    interval table, bucket arithmetic per group); the driver advances
    each group's interval independently.  Groups whose surviving range
    holds ≤ ``final_rows`` rows resolve in ONE shared residue pass —
    per-(group, value) counts, never raw rows.  Rounds needed =
    max over groups of the per-group pass count (2–4 on real ranges),
    NOT the sum — a thousand sources cost the same number of scans as
    one.

    Shares the selection engine with the weighted form (an all-ones
    weight column makes them identical — counts ARE unit weight sums,
    exactly).

    ``prior_stats`` (``{group: (lo, hi, total_w, n, min_w)}``) skips the
    kernel's own bounds pass when the caller already knows the numbers —
    catalog/manifest column statistics at 100 TB, or a preceding kernel
    run over the SAME rows (``robust_scale_by_group``'s MAD pass).
    ``lo``/``hi`` may be any SUPERSET interval (refinement filters and
    residue walks stay exact under loose bounds — they only require
    lo ≤ v ≤ hi for every group row); ``total_w``/``n`` must be EXACT
    (they drive the rank target, the residue gate and the no-progress
    detection).  Its group set is authoritative, and a named group
    with no rows raises on every path.
    """
    return _kth_by_group(
        df, value_col, group_col, None, ks, frac, buckets, final_rows,
        max_iters, "kth_element_by_group", ("n", "k"), prior_stats,
    )


def kth_element_by_group_weighted(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col: str,
    wks: dict | None = None,
    frac: float | None = None,
    buckets: int = 1024,
    final_rows: int = 1 << 20,
    max_iters: int = 256,
) -> DataFrame:
    """EXACT per-group WEIGHTED order statistic, all groups refined
    simultaneously: for each group, the smallest value whose cumulative
    weight (over that group's rows with value ``<= v``) reaches
    ``wks[group]`` — or the ``frac`` weight rank
    ``max(1, ceil(frac·W_g))``.  ``frac=0.5`` is the token-weighted
    per-source median, the corpus-statistics question "the value below
    which half of each source's TOKENS sit" (a row-weighted median
    over-counts tiny documents).

    The grouped composition of :func:`kth_element_weighted`: same
    integral non-negative weight contract (weight sums exact and
    accumulation-order-free → the result and its oracle replay are
    bit-deterministic), same per-round shape as
    :func:`kth_element_by_group` — ONE (group, bucket) weighted
    histogram scan per round for every unresolved group, a thousand
    sources cost the same passes as one.  Returns
    ``(group_col, total_w, wk, value)``.
    """
    return _kth_by_group(
        df, value_col, group_col, weight_col, wks, frac, buckets,
        final_rows, max_iters, "kth_element_by_group_weighted",
        ("total_w", "wk"),
    )


def _kth_by_group(
    df,
    value_col,
    group_col,
    weight_col,
    ks,
    frac,
    buckets,
    final_rows,
    max_iters,
    label,
    out_fields,
    prior_stats=None,
) -> DataFrame:
    """``(group_col, total weight, rank, value)`` rows of the grouped
    engine, one per ranked group, ascending by group."""
    if (ks is None) == (frac is None):
        raise ValueError(f"{label}: pass exactly one of ks/frac")
    stats, res = _select(
        _selection_input(df, value_col, weight_col, group_col, label),
        None if ks is None else {_gkey(g): [int(k)] for g, k in ks.items()},
        None if frac is None else [frac],
        buckets,
        final_rows,
        max_iters,
        label,
        prior_stats,
    )
    rows = sorted(
        ((g, int(stats[g][2]), t, v) for (g, _), (t, v) in res.items()),
        key=lambda r: (r[0] != r[0], r[0]),  # a NaN group sorts last
    )
    # group dtype inherited from the input (a hardcoded string type would
    # mangle integer group keys)
    schema = T.StructType(
        [
            T.StructField(group_col, df.schema[group_col].dataType),
            T.StructField(out_fields[0], T.LongType()),
            T.StructField(out_fields[1], T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return df.sparkSession.createDataFrame(rows, schema)
