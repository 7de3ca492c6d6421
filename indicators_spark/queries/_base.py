"""Registry and shared helpers of the query catalog.

Holds the :class:`Query` record, the ``QUERIES`` registry and
``_register``, the Spark-side quantizers (:func:`round4`, :func:`slog`)
and their SQL twins (``_r``), the window-frame builders, the prices CTE
wrapper (``_sql``), and the table loaders and embedding SQL helpers that
several families share.  Imports no family module.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import Indicators
from ..sources.prices import PRICES_SQL_EVENTS, load_table, prices_from_events

ORDER = '"timestamp", seq'


@dataclass(frozen=True)
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    # None → driver records a rows-only check
    sql: str | None

    @property
    def sql_text(self) -> str | None:
        """Alias of :attr:`sql`, kept for perfbench/workloads.py."""
        return self.sql


# --------------------------------------------------------------------- #
# Spark-side scaffolding
# --------------------------------------------------------------------- #


def _ind_query(
    op: Callable[[Indicators], object],
    outs: list[str],
    log_outs: tuple[str, ...] = (),
    pre: Callable[[DataFrame], DataFrame] | None = None,
):
    """Build a (spark, sf_dir) → DataFrame callable: prices → op → select
    (symbol, seq, rounded outputs).  Columns in ``log_outs`` are compared in
    the signed-log domain (see :func:`slog`); ``pre`` filters/transforms the
    prices input (mirrored in the oracle's prices CTE)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        p = prices_from_events(spark, sf_dir)
        if pre is not None:
            p = pre(p)
        ind = Indicators(p, order_by=("timestamp", "seq"))
        op(ind)
        df = ind.collect()
        sel = [df["symbol"], df["seq"]] + [
            round4(slog(df[c]) if c in log_outs else df[c]).alias(c) for c in outs
        ]
        return df.select(*sel)

    return fn


def round4(c):
    """Quantize a double identically to the oracle's ``_r`` helper.

    Plain ROUND differs between engines at exact .xxxx5 boundaries (Spark
    rounds the shortest decimal repr HALF_UP; DuckDB rounds the binary
    value), and the test data's 2-decimal inputs hit those boundaries
    constantly.  ``floor(x*10⁴ + 0.5)/10⁴`` is the same IEEE op sequence on
    both engines ⇒ bit-identical results.  The extra 1e-9 bias breaks exact
    half-boundary ties consistently when the engines' window aggregates
    differ by an ulp (different summation order).  NaN → NULL (both sides
    emit no NaNs by the ÷0→NULL policy, this is a belt-and-braces guard)."""
    c = F.when(~F.isnan(c), c)
    return F.floor(c * 10000 + F.lit(0.500000001)).cast("double") / 10000


def slog(c):
    """Signed-log compression for large-magnitude cumulative outputs:
    ``sign(x) * ln(1+|x|)``.  Cumulative sums of non-integer doubles pick up
    summation-order differences between engines that grow with magnitude;
    comparing in the log domain makes the check scale-relative (~1e-15)
    instead of absolute.  The oracle applies the same transform."""
    return F.signum(c) * F.log1p(F.abs(c))


# --------------------------------------------------------------------- #
# SQL-side scaffolding (DuckDB dialect, shared ANSI core)
# --------------------------------------------------------------------- #


def _ws(n: int, part: bool = True, order: str | None = None) -> str:
    """Rolling window frame text (trailing n rows)."""
    p = "PARTITION BY symbol " if part else ""
    return (
        f"({p}ORDER BY {order or ORDER} "
        f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
    )


def _word(part: bool = True, order: str | None = None) -> str:
    p = "PARTITION BY symbol " if part else ""
    return f"({p}ORDER BY {order or ORDER})"


def _wcum(part: bool = True, order: str | None = None) -> str:
    p = "PARTITION BY symbol " if part else ""
    return (
        f"({p}ORDER BY {order or ORDER} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )


def _gated(agg: str, gate_col: str, n: int, w: str) -> str:
    """Min-samples gate: NULL until the frame holds n non-null values."""
    return f"CASE WHEN count({gate_col}) OVER {w} >= {n} THEN {agg} OVER {w} END"


def _sql(body: str, recursive: bool = False) -> str:
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"{kw} {PRICES_SQL_EVENTS.strip()}, {body}"


def _r(expr: str, alias: str) -> str:
    """Quantizer matching the Spark side's :func:`round4` bit-for-bit."""
    return (
        f'CAST(floor(({expr}) * 10000 + 0.500000001) AS DOUBLE) / 10000 AS "{alias}"'
    )


# --------------------------------------------------------------------- #
# Query catalog
# --------------------------------------------------------------------- #

QUERIES: dict[str, Query] = {}


def _register(name: str, q: Query) -> None:
    assert name not in QUERIES, name
    QUERIES[name] = q


# --------------------------------------------------------------------- #
# Shared table loaders and embedding SQL (64-dim ``embeddings`` vectors)
# --------------------------------------------------------------------- #

EMB_DIM = 64


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _dot_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, EMB_DIM + 1)
    )


def _norm_sql(a: str) -> str:
    return (
        "sqrt("
        + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
            for i in range(1, EMB_DIM + 1)
        )
        + ")"
    )
