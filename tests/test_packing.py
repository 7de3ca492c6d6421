"""Training-sequence packing (`sampling.pack_token_stream`): the layout
must be the exact concat-and-chunk of documents in md5 order —
brute-force-replayable, token-conserving, full-to-the-brim, and
invariant under partitioning (the shard-manifest resumability
contract)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from indicators_spark.functions.sampling import pack_token_stream

L = 16


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=i, text=" ".join(f"t{i}_{j}" for j in range(3 + (i * 7) % 23)))
        for i in range(40)
    ]
    rows.append(Row(doc_id=100, text=None))     # excluded
    rows.append(Row(doc_id=101, text="   "))    # excluded (no tokens)
    return spark.createDataFrame(rows)


def _brute(docs_rows, seed="pack"):
    """Reference layout: concat docs in md5('{seed}|id') order, chunk
    every L tokens."""
    live = [
        (r.doc_id, len(r.text.split()))
        for r in docs_rows
        if r.text is not None and r.text.strip()
    ]
    live.sort(key=lambda t: (hashlib.md5(f"{seed}|{t[0]}".encode()).hexdigest(), t[0]))
    out, pos = {}, 0
    for did, n in live:
        out[did] = (n, pos, pos // L, (pos + n - 1) // L, pos % L)
        pos += n
    return out, pos


def test_per_doc_layout_matches_bruteforce(spark, docs):
    want, total = _brute(docs.collect())
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_tok"], r["first_seq"],
            r["last_seq"], r["offset_in_first"],
        )
        for r in pack_token_stream(docs, L).collect()
    }
    assert got == want
    assert 100 not in got and 101 not in got


def test_exploded_manifest_conserves_and_fills(spark, docs):
    _, total = _brute(docs.collect())
    man = pack_token_stream(docs, L, explode=True).collect()
    assert sum(r["n_tokens_in_seq"] for r in man) == total
    per_seq = {}
    for r in man:
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_tokens_in_seq"]
    last = max(per_seq)
    assert set(per_seq) == set(range(last + 1)), "sequence ids contiguous"
    for s, n in per_seq.items():
        assert n == L or (s == last and 0 < n <= L), (s, n)
    # every in-seq slice stays inside [0, L)
    assert all(0 <= r["seq_tok_start"] < L for r in man)
    assert all(r["seq_tok_start"] + r["n_tokens_in_seq"] <= L for r in man)


def test_token_col_variant_and_spanning(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 0), (5, None)],
        "doc_id long, n_tok long",
    )
    per = pack_token_stream(df, 8, token_col="n_tok").collect()
    assert {r["doc_id"] for r in per} == {1, 2, 3}
    # 30 tokens into len-8 seqs: ceil(30/8)=4 seqs; at least one doc spans
    assert max(r["last_seq"] for r in per) == 3
    assert any(r["last_seq"] > r["first_seq"] for r in per)


def test_layout_invariant_under_partitioning(spark, docs):
    def snap(d):
        return sorted(tuple(r) for r in pack_token_stream(d, L).collect())

    base = snap(docs)
    assert snap(docs.repartition(7)) == base
    assert snap(docs.coalesce(1)) == base


def test_single_sequence_when_budget_exceeds_corpus(spark, docs):
    per = pack_token_stream(docs, 10**6).collect()
    assert all(r["first_seq"] == 0 and r["last_seq"] == 0 for r in per)


def test_layout_matches_duckdb_oracle(spark):
    """The full layout replays exactly in ANSI SQL — pinned against the
    REGISTERED oracle itself (queries.pipeline._pack_sql), not a copy: the
    r8/r9 rounds each needed a synchronized dual edit (BIGINT casts,
    NULL-id COALESCE) before this import replaced the duplicate."""
    import duckdb

    from indicators_spark.queries.pipeline import _pack_sql
    from indicators_spark.sources.prices import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    got = sorted(tuple(r) for r in pack_token_stream(docs, 128).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(_pack_sql()).fetchall())
    con.close()
    assert got == want and len(got) > 0


def test_null_doc_id_matches_oracle(spark):
    """The fixture has no NULL doc_ids, so the oracle's NULL-sentinel
    COALESCE (r9 review) needs its own input: one NULL-id live-text row
    must land at the Spark sentinel's md5 rank on BOTH engines, not at
    DuckDB's NULLS-LAST end of the stream (which would shift every
    downstream span)."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([1, 2, None, 4, 5], dtype="Int64"),
            "text": ["a b c", "d e", "x y z w", "f", "g h i j k"],
        }
    )
    docs = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None))

    def key(t):  # tuples contain the NULL id — plain sorted() can't
        return tuple((x is None, x) for x in t)

    got = sorted(
        (tuple(r) for r in pack_token_stream(docs, 4).collect()), key=key
    )

    from indicators_spark.queries.pipeline import _pack_sql

    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        (tuple(r) for r in con.execute(_pack_sql(4)).fetchall()), key=key
    )
    con.close()
    assert got == want and len(got) == 5
    # the NULL-id row is mid-stream on both sides, not a trailing quirk
    assert any(r[0] is None for r in got)
