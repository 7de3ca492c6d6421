"""Batch sources & sinks with the layout discipline a 100 TB lake needs.

The reference (`/root/reference/indicators.py`) has no IO at all — the
caller hands it a frame (SURVEY.md §2b "Not present in the reference").
These are north-star extensions, and every knob here exists for a scale
reason:

* **Explicit schemas on read.** Schema inference is a full extra pass over
  CSV/JSON at cluster scale; prod readers take a `StructType`.
* **`maxRecordsPerFile` + `sortWithinPartitions` on write.**  File counts
  drive driver memory & listing time; in-file clustering drives parquet
  row-group min/max pruning for later readers.
* **Compaction.** Streaming / incremental jobs produce small files; a
  periodic coalescing rewrite keeps scans sequential.  `repartition(n)`
  (round-robin shuffle) — NOT `coalesce(n)`, which would also clamp the
  parallelism of everything upstream of the write.
* **Bucketed tables.** Pre-shuffled, co-located layout: every later
  equi-join or aggregation on the bucket key skips its exchange (pinned in
  tests/test_bucketing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..scale import zorder_key as morton_interleave

_FORMATS = ("parquet", "orc", "csv", "json")


def read_batch(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Uniform batch reader.  CSV/JSON REQUIRE an explicit schema (inference
    is an extra full scan at lake scale, and silently drifts types);
    parquet/ORC carry their own."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {_FORMATS}")
    reader = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(f"{fmt} read requires an explicit schema")
        reader = reader.schema(schema)
        if fmt == "csv":
            reader = reader.option("header", "true")
    elif schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_clustered(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    cluster_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Layout-aware write: hive-style directory partitioning on
    ``partition_by`` (readers prune whole directories), rows sorted
    *within* each task on ``cluster_by`` (parquet row-group min/max stats
    then prune within files), file sizes bounded by
    ``max_records_per_file``.

    ``sortWithinPartitions`` is a per-task sort — no global sort, no extra
    exchange beyond what the write itself requires.  The sort leads with
    the PARTITION columns: a dynamic-partition write requires its own
    ordering on them, and satisfying it up front stops Spark from adding
    a second (not-guaranteed-stable) sort that would scramble the
    in-file ``cluster_by`` order the row-group pruning depends on.

    CSV writes carry a header — :func:`read_batch` reads CSV with
    ``header=true``, and the pair must round-trip (a headerless file read
    with header=true silently drops its first data row)."""
    if cluster_by or partition_by:
        df = df.sortWithinPartitions(*partition_by, *cluster_by)
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    fmt: str = "parquet",
    cluster_by: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
    schema: StructType | None = None,
) -> int:
    """Rewrite a (possibly small-file-fragmented) dataset into
    ``target_files`` files, optionally re-clustered.  Returns the input
    file count.  Round-robin ``repartition`` spreads rows evenly regardless
    of input skew; the rewrite goes to a sibling ``_compacted`` directory
    so a failed job never destroys the source (rename/swap is the
    caller's atomic-publish step, lake-layer specific).

    Reads through :func:`read_batch`, so the module's no-inference
    discipline holds here too: CSV/JSON compaction REQUIRES ``schema`` (a
    bare load would silently rewrite every CSV column as string and drift
    JSON timestamps).  A hive-partitioned source must pass the same
    ``partition_by`` it was written with — Spark reads partition values
    back as ordinary columns, so omitting it flattens the directory
    layout readers prune on."""
    df = read_batch(spark, path, fmt=fmt, schema=schema)
    n_in = len(df.inputFiles())
    out = df.repartition(target_files)
    write_clustered(
        out,
        path + "_compacted",
        fmt=fmt,
        cluster_by=cluster_by,
        partition_by=partition_by,
    )
    return n_in


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    buckets: int,
    sort_cols: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sort-ordered) managed table.
    Later equi-joins/aggs on ``bucket_cols`` between tables bucketed the
    same way run with ZERO exchanges (tests/test_bucketing.py pins this
    plan property)."""
    writer = (
        df.write.format(fmt)
        .mode("overwrite")
        .bucketBy(buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def stream_source(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "json",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-discovery streaming source: new files under ``path`` become
    micro-batches (the on-ramp for incremental pipelines; swap for Kafka in
    a deployment with a broker).  Schema is mandatory — streaming readers
    cannot infer without an extra blocking listing.  Same format contract
    as :func:`read_batch` (validated formats; CSV streams read with
    ``header=true`` so header lines never ingest as NULL-cast data rows)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {_FORMATS}")
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return (
        reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )


def zorder_key(
    df: DataFrame, cols: tuple[str, ...], bits: int = 12
) -> Column:
    """Z-order (Morton) key over ``cols``: each column is scaled to a
    ``bits``-wide integer bucket by its global min/max, and the buckets'
    bits are interleaved by :func:`indicators_spark.scale.zorder_key` —
    nearby keys are nearby in EVERY dimension, so range-partitioning +
    sorting by this one key gives multi-dimensional data-skipping (each
    file's parquet min/max stats are narrow on ALL z-ordered columns, not
    just the leading sort column).

    The min/max pass is one tiny agg (2·|cols| scalars to the driver —
    index metadata, like IVF centroids).  The key itself is pure codegen
    bit arithmetic: no UDF, no shuffle."""
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    max_bucket = (1 << bits) - 1
    buckets = []
    for c in cols:
        if stats[f"mn_{c}"] is None or stats[f"mx_{c}"] is None:
            raise ValueError(
                f"zorder_key: no non-null values in column {c!r} "
                "(empty input?) — nothing to scale the Morton buckets by"
            )
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        span = (mx - mn) or 1.0
        bucket = F.least(
            F.lit(max_bucket),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn))
                    / F.lit(span)
                    * F.lit(max_bucket + 1)
                ),
            ),
        )
        buckets.append(bucket)
    return morton_interleave(buckets, bits=bits)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: tuple[str, ...],
    n_files: int = 16,
    bits: int = 12,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Z-order clustered write (the Delta/Iceberg OPTIMIZE ZORDER layout,
    lake-layer-free): range-partition on the Morton key so each output
    file owns a contiguous z-range, sort within tasks, drop the key.
    Readers filtering on ANY z-ordered column then skip most files via
    footer min/max — the layout a 100 TB multi-tenant scan needs when no
    single partition column dominates the predicates."""
    zkey = "_zkey"
    while zkey in df.columns:  # never clobber (then drop) a user column
        zkey += "_"
    keyed = df.withColumn(zkey, zorder_key(df, zorder_by, bits=bits))
    (
        keyed.repartitionByRange(n_files, F.col(zkey))
        .sortWithinPartitions(zkey)
        .drop(zkey)
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )
