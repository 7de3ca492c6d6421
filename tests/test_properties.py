"""Property-based tests (hypothesis): rolling kernels vs brute-force
Python on random series with nulls, plus indicator invariants."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from indicators_spark import Indicators
from indicators_spark import kernels as K

SERIES = st.lists(
    st.one_of(
        st.none(),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    ),
    min_size=1,
    max_size=40,
)

WINDOW = st.integers(min_value=1, max_value=8)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, values):
    rows = [
        (
            "A",
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
            i,
            v,
        )
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "symbol string, timestamp timestamp, seq long, close double"
    )


def _brute_rolling_mean(values, n):
    out = []
    for i in range(len(values)):
        window = values[max(0, i - n + 1) : i + 1]
        valid = [v for v in window if v is not None]
        out.append(sum(valid) / len(valid) if len(valid) >= n else None)
    return out


@given(values=SERIES, n=WINDOW)
@_settings
def test_rolling_mean_matches_bruteforce(spark, values, n):
    df = _frame(spark, values)
    w = K.w_rows(n, ("symbol",), ("timestamp", "seq"))
    got = [
        r["m"]
        for r in df.withColumn("m", K.rolling_mean("close", n, w))
        .orderBy("seq")
        .select("m")
        .collect()
    ]
    want = _brute_rolling_mean(values, n)
    for g, e in zip(got, want):
        if e is None:
            assert g is None
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9)


@given(values=SERIES, n=WINDOW)
@_settings
def test_warmup_null_count(spark, values, n):
    """With no interior nulls, exactly min(n-1, len) leading outputs null."""
    clean = [v if v is not None else 1.0 for v in values]
    df = _frame(spark, clean)
    w = K.w_rows(n, ("symbol",), ("timestamp", "seq"))
    got = [
        r["m"]
        for r in df.withColumn("m", K.rolling_mean("close", n, w))
        .orderBy("seq")
        .select("m")
        .collect()
    ]
    nulls = [g is None for g in got]
    expected_nulls = min(n - 1, len(clean))
    assert sum(nulls) == expected_nulls
    assert all(nulls[:expected_nulls])


@given(values=st.lists(st.floats(min_value=0.1, max_value=1e5, allow_nan=False),
                       min_size=5, max_size=40))
@_settings
def test_invariants_donchian_williams(spark, values):
    rows = [
        (
            "A",
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
            i,
            v * 1.02,
            v * 0.98,
            v,
        )
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, seq long, high double, "
        "low double, close double",
    )
    ind = Indicators(df, order_by=("timestamp", "seq"))
    out = ind.donchian_channel(4).williams_ri(4).collect().orderBy("seq").collect()
    for r in out:
        up, lo, mid = r["donchian_upper_4"], r["donchian_lower_4"], r["donchian_mid_4"]
        if up is not None:
            assert up >= mid >= lo
        wr = r["williams_%r_4"]
        if wr is not None:
            assert -100.0 - 1e-9 <= wr <= 0.0 + 1e-9


@given(values=st.lists(st.floats(min_value=0.1, max_value=1e4, allow_nan=False),
                       min_size=3, max_size=30),
       span=st.integers(min_value=2, max_value=10))
@_settings
def test_ema_matches_pandas(spark, values, span):
    import pandas as pd

    df = _frame(spark, values)
    got = [
        r[f"close_ema_{span}"]
        for r in Indicators(df, order_by=("timestamp", "seq"))
        .ema(["close"], span)
        .collect()
        .orderBy("seq")
        .collect()
    ]
    want = pd.Series(values).ewm(alpha=2 / (span + 1), adjust=False).mean().tolist()
    for g, e in zip(got, want):
        assert g == pytest.approx(e, rel=1e-12)


@given(
    n_words=st.integers(min_value=1, max_value=120),
    chunk=st.integers(min_value=2, max_value=40),
    overlap=st.integers(min_value=0, max_value=20),
)
@_settings
def test_chunk_documents_covers_every_word(spark, n_words, chunk, overlap):
    """Chunking invariants for any (doc length, chunk, overlap<chunk):
    chunks tile the doc with the exact stride, every word is covered,
    no chunk is empty, and the last chunk reaches the final word."""
    from indicators_spark.functions.text import chunk_documents

    overlap = min(overlap, chunk - 1)
    step = chunk - overlap
    text = " ".join(f"w{i}" for i in range(n_words))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(
        (r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk=chunk, overlap=overlap).collect()
    )
    assert rows, "at least one chunk"
    covered = set()
    for cid, ctext, ntok in rows:
        toks = ctext.split(" ")
        assert 1 <= ntok == len(toks) <= chunk
        start = cid * step
        assert toks == [f"w{i}" for i in range(start, min(start + chunk, n_words))]
        covered.update(range(start, start + ntok))
    assert covered == set(range(n_words))


@given(
    n=st.integers(min_value=1, max_value=60),
    buckets=st.integers(min_value=1, max_value=8),
)
@_settings
def test_global_row_number_any_buckets(spark, n, buckets):
    """Bucketed enumeration equals the window row_number for any series
    length and bucket count (including buckets > rows)."""
    from pyspark.sql import Window
    from indicators_spark.scale import grouped_row_number

    df = spark.range(n).select(
        F.col("id").alias("seq"), (F.col("id") * 7 % 13).alias("v")
    )
    out = grouped_row_number(
        df, (), order_cols=("seq",), buckets=buckets, bucket_by="seq",
        out="rn",
    )
    ref = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("seq")).cast("long")
    )
    a = sorted((r["seq"], r["rn"]) for r in out.collect())
    b = sorted((r["seq"], r["rn"]) for r in ref.collect())
    assert a == b


@given(
    n=st.integers(min_value=1, max_value=40),
    buckets=st.integers(min_value=1, max_value=6),
    gap=st.integers(min_value=2, max_value=5),
)
@_settings
def test_global_cum_sum_any_buckets(spark, n, buckets, gap):
    """Bucketed running sums equal the unbounded window for any length,
    bucket count, and null pattern (every gap-th value null)."""
    from pyspark.sql import Window
    from indicators_spark.scale import global_cum_sum

    df = spark.range(n).select(
        F.col("id").alias("seq"),
        F.when(F.col("id") % gap != 0, (F.col("id") % 7).cast("double")).alias("x"),
    )
    out = global_cum_sum(df, ["x"], ("seq",), buckets=buckets, bucket_by="seq")
    w = Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    ref = df.withColumn("_cum_x", F.sum("x").over(w))
    a = sorted((r["seq"], r["_cum_x"]) for r in out.collect())
    b = sorted((r["seq"], r["_cum_x"]) for r in ref.collect())
    assert a == b


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta".split()),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.0, 0.3, 0.7]),
)
@_settings
def test_tfidf_dense_equals_sparse_random_corpora(spark, docs, threshold):
    """Dispatch invariance: on ANY corpus the dense-GEMM and posting-join
    scorers produce the same pair set and equal cosines (float
    reassociation tolerance) — including corpora with duplicate docs,
    idf-0 tokens, and disjoint vocabularies."""
    from indicators_spark.functions.similarity import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    dense = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(df, threshold).collect()
    }
    sparse = {
        (r["ia"], r["ib"]): r["cos"]
        for r in tfidf_cosine_pairs(df, threshold, dense_max_vocab=0).collect()
    }
    assert dense.keys() == sparse.keys()
    for k, v in dense.items():
        assert math.isclose(v, sparse[k], rel_tol=1e-9, abs_tol=1e-12)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-2.0, max_value=2.0, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=14,
    ),
    threshold=st.sampled_from([0.5, 0.9, 0.999]),
)
@_settings
def test_semantic_dedup_matches_bruteforce(spark, vecs, threshold):
    """The Arrow cell kernel must agree with a direct numpy reference:
    within each cell (nearest centroid by cosine, lowest-cid ties,
    zero-norm centroids excluded), drop the higher id of every pair with
    cos >= threshold; zero-norm vectors are never dropped."""
    import numpy as np

    from indicators_spark.functions.similarity import semantic_dedup

    n_cents = 2
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, threshold=threshold, n_centroids=n_cents).collect()
    )

    x = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    cents = x[: min(n_cents, len(vecs))]
    cnorms = np.linalg.norm(cents, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        grid = (x @ cents.T) / (norms[:, None] * cnorms[None, :])
    grid = np.where(np.isnan(grid), -np.inf, grid)
    cell = np.argmax(grid, axis=1)
    dropped = set()
    for c in set(cell.tolist()):
        ids = [i for i in range(len(vecs)) if cell[i] == c]
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                if norms[a] == 0 or norms[b] == 0:
                    continue
                cos = float(x[a] @ x[b]) / (norms[a] * norms[b])
                if cos >= threshold - 1e-12:
                    dropped.add(b)
    expect = sorted(set(range(len(vecs))) - dropped)
    # borderline pairs (|cos - threshold| ~ float noise) may differ in
    # fold order; tolerate only those
    if kept != expect:
        diff = set(kept) ^ set(expect)
        for d in diff:
            near = any(
                norms[d] > 0 and norms[o] > 0
                and abs(float(x[d] @ x[o]) / (norms[d] * norms[o]) - threshold) < 1e-9
                for o in range(len(vecs))
                if o != d
            )
            assert near, (kept, expect, d)


@given(
    values=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-1e5, max_value=1e5, allow_nan=False, width=32),
        ),
        min_size=40,
        max_size=80,
    ),
    buckets=st.integers(min_value=1, max_value=3),
    n=st.integers(min_value=2, max_value=5),
)
@_settings
def test_halo_rolling_matches_window_random(spark, values, buckets, n):
    """Property: for any series (with nulls), bucket count, and window
    size satisfying the bucket-size precondition, the halo kernel equals
    the single-task global window bit-for-bit (including warm-up gates)."""
    from pyspark.sql import Window as W

    from indicators_spark.scale import halo_rolling_multi

    rows = [(i, v) for i, v in enumerate(values)]
    df = (
        spark.createDataFrame(rows, "seq long, close double")
        .withColumn("timestamp", F.timestamp_seconds(F.col("seq")))
    )
    out = halo_rolling_multi(
        df, [("mean", "close", "v")], n, ("timestamp", "seq"),
        buckets=buckets, bucket_by="seq",
    )
    w = W.orderBy("timestamp", "seq").rowsBetween(-(n - 1), 0)
    ref = df.withColumn(
        "v", F.when(F.count("close").over(w) >= n, F.avg("close").over(w))
    )
    a = {r["seq"]: r["v"] for r in out.collect()}
    b = {r["seq"]: r["v"] for r in ref.collect()}
    assert a.keys() == b.keys()
    for k in a:
        if b[k] is None:
            assert a[k] is None
        else:
            assert a[k] is not None and math.isclose(a[k], b[k], rel_tol=1e-12)


@given(
    values=st.lists(
        st.floats(min_value=-1e5, max_value=1e5, allow_nan=False, width=32),
        min_size=40,
        max_size=80,
    ),
    buckets=st.integers(min_value=1, max_value=3),
    k=st.integers(min_value=1, max_value=3),
    alpha=st.sampled_from([0.1, 0.5, 0.9]),
)
@_settings
def test_ewm_chunked_composes_with_halo_lag(spark, values, buckets, k, alpha):
    """Property (VERDICT r4 #6): the two scale kernels compose — an EWM
    over a halo-lagged column (the shape heikin_ashi-style recursive ops
    take at scale: previous-row input feeding a recurrence) must equal
    the single-task window form bit-for-bit, for any series, bucket
    count, lag and alpha.  The lag's k warm-up NULLs are coalesced to the
    unlagged value before the EWM (ewm_chunked enforces non-null input by
    design), on both sides identically."""
    from pyspark.sql import Window as W

    from indicators_spark.scale import ewm_chunked, halo_lag

    rows = [(i, v) for i, v in enumerate(values)]
    df = (
        spark.createDataFrame(rows, "seq long, close double")
        .withColumn("timestamp", F.timestamp_seconds(F.col("seq")))
    )
    lagged = halo_lag(
        df, "close", k=k, order_cols=("timestamp", "seq"),
        buckets=buckets, bucket_by="seq", out="_lagged",
    ).withColumn("lf", F.coalesce("_lagged", "close"))
    out = ewm_chunked(
        lagged, "lf", alpha, order_cols=("timestamp", "seq"),
        buckets=buckets, bucket_by="seq", out="y",
    )
    got = {r["seq"]: r["y"] for r in out.collect()}

    # reference: plain global-window lag + the same coalesce + the EWM
    # recurrence (adjust=False, y0=x0) run in driver-side Python
    w = W.orderBy("timestamp", "seq")
    ref_rows = (
        df.withColumn("lf", F.coalesce(F.lag("close", k).over(w), "close"))
        .orderBy("seq")
        .collect()
    )
    y = None
    want = {}
    for r in ref_rows:
        x = r["lf"]
        y = x if y is None else (1 - alpha) * y + alpha * x
        want[r["seq"]] = y

    assert got.keys() == want.keys()
    for s in want:
        assert got[s] is not None and math.isclose(
            got[s], want[s], rel_tol=1e-9, abs_tol=1e-12
        ), (s, got[s], want[s])


@given(
    docs=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=5),  # tiny vocab -> repeats
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=2, max_value=4),
    keep_first=st.booleans(),
)
@_settings
def test_substring_spans_match_bruteforce(spark, docs, n, keep_first):
    """Property: for any corpus over a tiny vocabulary (heavy repeats),
    span length, and policy, the distributed ExactSubstr spans equal a
    brute-force Python replay (gram dict -> seed marking -> interval
    merge)."""
    from indicators_spark.functions.dedup import substring_dup_spans

    texts = [" ".join(f"t{w}" for w in ws) for ws in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_words"])
        for r in substring_dup_spans(df, n=n, keep_first=keep_first).collect()
    }

    # brute force (split(' ') semantics: '' -> [''], matching words())
    grams: dict[tuple, list[tuple[int, int]]] = {}
    for did, t in rows:
        ws = t.split(" ")
        for p in range(len(ws) - n + 1):
            grams.setdefault(tuple(ws[p : p + n]), []).append((did, p + 1))
    seeds: dict[int, list[int]] = {}
    for occs in grams.values():
        occs.sort()
        marked = occs[1:] if keep_first else (occs if len(occs) > 1 else [])
        for did, p in marked:
            seeds.setdefault(did, []).append(p)
    want = set()
    for did, ps in seeds.items():
        ps = sorted(set(ps))
        start = prev = ps[0]
        for p in ps[1:]:
            if p - prev > n:
                want.add((did, start, prev + n - 1, prev + n - start))
                start = p
            prev = p
        want.add((did, start, prev + n - 1, prev + n - start))
    assert got == want
