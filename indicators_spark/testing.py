"""Local replica of the driver's DuckDB-oracle comparison.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the same
sf directory, then compares row counts, column sets, and values
(order-insensitive, exact on the rounded doubles both sides emit).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the driver's table views over the parquet files."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        extra = f" ({'; '.join(self.issues)})" if self.issues else ""
        return f"[{status}] {self.name}: {self.spark_rows} rows{extra}"


def compare_frames(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> CompareResult:
    res = CompareResult(name=name, ok=True, spark_rows=len(sdf), oracle_rows=len(odf))
    if len(sdf) != len(odf):
        res.ok = False
        res.issues.append(f"row count {len(sdf)} vs {len(odf)}")
        return res
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        res.ok = False
        res.issues.append(f"columns {s_cols} vs {o_cols}")
        return res
    sdf = sdf[s_cols]
    odf = odf[o_cols]
    # order-insensitive: sort by all columns (stable total order incl. NaN)
    sdf = sdf.sort_values(s_cols, na_position="last").reset_index(drop=True)
    odf = odf.sort_values(o_cols, na_position="last").reset_index(drop=True)
    for c in s_cols:
        sv, ov = sdf[c], odf[c]
        # The driver's value-hash is repr-sensitive: a DuckDB HUGEINT/DECIMAL
        # (arriving as float64/object) against a Spark BIGINT hashes
        # differently even when the values agree.  Surface that locally
        # instead of silently coercing (the r1 text_fingerprint failure mode).
        s_int = pd.api.types.is_integer_dtype(sv)
        o_int = pd.api.types.is_integer_dtype(ov)
        if s_int != o_int:
            res.ok = False
            res.issues.append(
                f"{c}: dtype mismatch {sv.dtype} vs {ov.dtype} "
                "(driver value-hash would differ; CAST the oracle)"
            )
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv = sv.astype("float64").to_numpy()
            ov = ov.astype("float64").to_numpy()
            both_nan = np.isnan(sv) & np.isnan(ov)
            eq = (sv == ov) | both_nan
            if not eq.all():
                bad = int((~eq).sum())
                idx = np.argmax(~eq)
                res.ok = False
                res.issues.append(
                    f"{c}: {bad} value diffs, first at row {idx}: "
                    f"{sv[idx]!r} vs {ov[idx]!r}"
                )
        else:
            sv = sv.astype("object").where(pd.notna(sv), None)
            ov = ov.astype("object").where(pd.notna(ov), None)
            neq = sv.ne(ov) & ~(sv.isna() & ov.isna())
            if neq.any():
                idx = int(np.argmax(neq.to_numpy()))
                res.ok = False
                res.issues.append(
                    f"{c}: {int(neq.sum())} value diffs, first at row {idx}: "
                    f"{sv.iloc[idx]!r} vs {ov.iloc[idx]!r}"
                )
    return res


def check_query(spark, con, name: str, sf_dir: str) -> CompareResult:
    from .queries import QUERIES

    q = QUERIES[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    if q.sql is None:
        return CompareResult(
            name=name, ok=len(sdf) >= 0, spark_rows=len(sdf),
            issues=["rows-only (no oracle)"],
        )
    odf = con.sql(q.sql).df()
    return compare_frames(name, sdf, odf)
