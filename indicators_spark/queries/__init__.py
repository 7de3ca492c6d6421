"""Driver-facing query catalog: one named query per implemented operator
(SURVEY.md §2), each paired with an ANSI-SQL oracle DuckDB can run on the
same parquet tables.

Conventions shared by BOTH sides (the correctness contract):

* Input is the deterministic ``prices`` derivation from ``events``
  (sources/prices.py) — bit-identical doubles on both engines.
* Output rows are keyed by ``(symbol, seq)`` — exact string/int64 values —
  never by timestamps (events.ts is nanosecond-precision; Spark timestamps
  are µs, so timestamps never appear in hashed output).
* Every float output is ``ROUND(x, 4)`` on both sides.  Identical input
  doubles + identical IEEE expression order ⇒ identical doubles; rounding
  only guards the handful of places where aggregation order may differ
  (windowed sums/avgs computed by different runtimes).
* ÷0 → NULL on both sides (Spark ``nullif`` / SQL ``NULLIF``), null
  condition in CASE → NULL (explicit ``delta IS NULL`` arms).

EWM-family oracles use exact recursive CTEs (the recurrences
``y=(1-a)y₁+ax`` and ``num/den`` for adjust=True) — see ``_SQL_EMA`` etc.

Layout: ``_base`` holds the registry and the shared helpers; each family
module registers the queries it defines.  This module imports the
families in one fixed order, dependencies first, and Python runs it
before any submodule, so the registry's contents and order are the same
whichever catalog module is imported first.
"""

# The registry's order is this import order (dependencies first; the
# driver breaks ordering ties by registration index), so keep it fixed.
from . import (  # noqa: F401  (registration side-effect)
    indicators,
    ext,
    relational,
    analytic,
    corpus,
    pipeline,
    ml,
    similarity,
)
from ._base import QUERIES, Query

__all__ = ["QUERIES", "Query"]
