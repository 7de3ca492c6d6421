"""Text-analysis operators over a document table — all pure DataFrame
expressions (JVM-side, whole-stage codegen; zero Python in the hot path).

Designed for the LLM-pipeline use case at 100 TB: every operator is a
row-local projection (no shuffle at all), so it scales embarrassingly —
the parquet scan is the only cost, and column pruning reaches it.

Cross-engine portability (for the DuckDB oracle): word hashing is
md5-based (``portable_word_hash``) — identical int64 on Spark and DuckDB —
never engine-specific hashes like xxhash64.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Marker stopwords per language for the n-gram/stopword-hit language-ID
#: heuristic.  Deterministic tie-break: first language in this order wins.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "y", "es"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

#: 2^31 - 1 (Mersenne prime) — the portable 31-bit hash space.
H31 = 2147483647


def words(text: Column) -> Column:
    """Whitespace tokenization (documents use single-space separators)."""
    return F.split(text, " ")


def portable_word_hash(w: Column) -> Column:
    """md5-derived 60-bit int, identical on Spark and DuckDB:
    Spark ``conv(substr(md5(w),1,15),16,10)`` ==
    DuckDB ``CAST('0x'||substr(md5(w),1,15) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


def word_hash31(w: Column) -> Column:
    """Portable hash reduced into the 31-bit Mersenne space (safe to
    multiply by 31-bit constants without int64 overflow)."""
    return portable_word_hash(w) % H31


def word_ngrams(ws: Column, n: int) -> Column:
    """Overlapping word ``n``-grams of a token array (space-joined),
    empty when the doc holds fewer than ``n`` words — the shared
    construction for decontamination, duplicated-passage mass and
    cross-source overlap."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_bigram_structs(ws: Column) -> Column:
    """Adjacent word bigrams of a MATERIALIZED token-array column as
    (w1, w2) structs; empty for <2-word docs (the ``sequence(1, 0)``
    descends-and-overindexes guard lives here once).  Pass a column the
    array was already projected onto — Spark does no CSE inside lambdas,
    so an inline ``split()`` would re-tokenize per element."""
    return F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _count_in(ws: Column, vocab: tuple[str, ...]) -> Column:
    """Token hits (with multiplicity) against a small vocabulary."""

    def pred(x: Column) -> Column:
        c = F.lit(False)
        for v in vocab:
            c = c | (x == v)
        return c

    return F.size(F.filter(ws, pred))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token_count / distinct_tokens / avg_token_len / punct_count."""
    t = F.col(text_col)
    ws = words(t)
    return df.withColumns(
        {
            "token_count": F.size(ws),
            "distinct_tokens": F.size(F.array_distinct(ws)),
            "avg_token_len": (F.length(t) - (F.size(ws) - 1)) / F.size(ws),
            "punct_count": F.length(t)
            - F.length(F.regexp_replace(t, r"[^a-zA-Z0-9 ]", "")),
        }
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality heuristic in [0,1]: length saturation,
    type/token ratio, punctuation penalty, stopword-rate band."""
    df = with_token_stats(df, text_col)
    t = F.col(text_col)
    ws = words(t)
    n = F.col("token_count").cast("double")
    stop_ratio = _count_in(ws, STOPWORDS).cast("double") / n
    score = (
        F.least(n / 50, F.lit(1.0)) * 0.3
        + (F.col("distinct_tokens") / n) * 0.3
        + (1 - F.col("punct_count") / F.nullif(F.length(t), F.lit(0))) * 0.2
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.2
    )
    return df.withColumn("quality_score", score)


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: argmax of per-language marker counts,
    deterministic tie-break by LANG_MARKERS order; no hits → 'und'."""
    ws = words(F.col(text_col))
    hits = {lang: _count_in(ws, vocab) for lang, vocab in LANG_MARKERS.items()}
    best = F.lit("und")
    best_n = F.lit(0)
    # iterate in reverse so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        best = F.when(hits[lang] >= best_n, F.lit(lang)).otherwise(best)
        best_n = F.when(hits[lang] >= best_n, hits[lang]).otherwise(best_n)
    return df.withColumn("lang_id", F.when(best_n > 0, best).otherwise(F.lit("und")))


def with_normalized(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical text normalization for dedup/training: lowercase, strip
    non-alphanumerics to spaces, collapse runs of whitespace, trim.
    Pure codegen'd regexp work — row-local, zero shuffle."""
    t = F.lower(F.col(text_col))
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return df.withColumn("norm_text", F.trim(t))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints:
    * ``fp_md5`` — md5 of the lower-cased text (exact-dup key)
    * ``fp_roll`` — polynomial rolling hash over word hashes
      (``acc = (acc*31 + h(w)) mod 1e9+7``), order-sensitive."""
    t = F.col(text_col)
    ws = words(F.lower(t))
    roll = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + word_hash31(w)) % F.lit(1000000007).cast("long"),
    )
    return df.withColumns(
        {"fp_md5": F.md5(F.lower(t)), "fp_roll": roll}
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style word-level repetition signals per document:

    * ``dup_word_frac`` — ``1 − distinct_words/total_words`` (row-local)
    * ``top_bigram_frac`` — occurrences of the document's most frequent
      word bigram over total bigrams (the classic boilerplate/spam tell)

    Repetitious documents (templated boilerplate, keyword stuffing, decode
    errors) are the single biggest quality filter for LLM training data
    after dedup (Gopher/MassiveText-style thresholds, e.g. Rae et al. 2021).

    Scale shape: one explode + two groupBys keyed by (doc, bigram) then
    doc — skinny int/string keys, partial aggregation map-side; the text
    column itself never shuffles.  Documents with fewer than two words
    have no bigrams and are dropped (mirrored by the oracle's inner join).
    """
    t = F.col(text_col)
    ws = words(t)
    rowstats = df.select(
        F.col(id_col),
        (
            1.0
            - F.size(F.array_distinct(ws)).cast("double")
            / F.size(ws).cast("double")
        ).alias("dup_word_frac"),
    )
    # ws materialized as a column before the per-element lambda: element_at
    # references the array once per bigram and Spark does no CSE inside
    # lambdas, so the inline split() would re-tokenize per element
    bg = (
        df.filter(F.size(ws) >= 2)
        .select(F.col(id_col), ws.alias("_ws"))
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(F.col("_ws")) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("_ws"), i),
                        F.element_at(F.col("_ws"), i + 1),
                    ),
                )
            ).alias("bg"),
        )
    )
    per_doc = (
        bg.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bg"), F.sum("c").alias("tot_bg"))
    )
    return rowstats.join(per_doc, id_col).select(
        id_col,
        "dup_word_frac",
        (F.col("top_bg").cast("double") / F.col("tot_bg")).alias("top_bigram_frac"),
    )


def decontaminate_flags(
    df: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a benchmark/eval set (the standard guard against
    test-set leakage into training corpora; n=8..13 word overlaps in
    PaLM/GPT-3-style reports — smaller n here for the tiny test vocab).

    Scale shape: the benchmark side is tiny by construction, so its
    distinct n-gram set BROADCASTS; the corpus side is one explode +
    map-side semi-join + a distinct over bare ids.  The corpus text never
    shuffles and nothing is quadratic.  Returns (id, contaminated bool)
    for every input document.
    """

    def _ngrams(frame: DataFrame) -> DataFrame:
        # token array materialized as a column first: no CSE inside
        # lambda functions, so an inlined split() would re-tokenize the
        # doc once per element_at (~10n times per row)
        return frame.select(
            F.col(id_col).alias("_id"), words(F.col(text_col)).alias("_ws")
        ).select(
            "_id",
            F.explode(
                F.array_distinct(word_ngrams(F.col("_ws"), n))
            ).alias("g"),
        )

    bench_g = _ngrams(bench).select("g").distinct()
    hits = (
        _ngrams(df)
        .join(F.broadcast(bench_g), "g", "left_semi")
        .select("_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        df.select(F.col(id_col))
        .join(hits.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


def duplicate_passage_fraction(
    df: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4/CCNet-style corpus-level duplication mass: for each document,
    the fraction of its distinct word ``n``-grams that also occur in at
    least one OTHER document.  High values mean the document is mostly
    boilerplate shared across the corpus — the passage-level complement to
    pairwise near-dup detection (a doc can be 80% template without having
    any single near-duplicate partner).

    Scale shape: explode distinct n-grams → count docs per gram (map-side
    partial agg on a hashed gram key) → join the per-gram doc-count back →
    one per-doc agg.  Shuffles carry (gram-hash, id) ints only; document
    text never moves.  No quadratic stage: unlike pairwise Jaccard there
    is no self-join, so ubiquitous passages cost O(df) rows, not O(df²).
    Returns (id, n_grams, dup_grams, dup_frac); docs shorter than ``n``
    words have no n-grams and are dropped (oracle mirrors).
    """
    # hash the gram BEFORE the shuffle: 8-byte keys instead of n-word
    # strings.  xxhash64 (not the portable md5 hash) — the key is internal
    # to this operator (the oracle groups raw gram strings), so the cheap
    # engine-native hash is fine; only collisions would matter (~2⁻⁶⁴).
    # Tokens materialize as a column first (no CSE inside lambdas — an
    # inlined split() re-tokenizes the doc once per element_at).
    doc_g = df.select(
        F.col(id_col).alias("_id"), words(F.col(text_col)).alias("_ws")
    ).select(
        "_id",
        F.explode(
            F.array_distinct(word_ngrams(F.col("_ws"), n))
        ).alias("g"),
    ).select("_id", F.xxhash64(F.col("g")).alias("gh"))
    gram_df = doc_g.groupBy("gh").agg(F.count(F.lit(1)).alias("gdf"))
    per_doc = (
        doc_g.join(gram_df, "gh")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("gdf") > 1, 1).otherwise(0)).alias("dup_grams"),
        )
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        F.col("dup_grams").cast("long").alias("dup_grams"),
        (F.col("dup_grams").cast("double") / F.col("n_grams")).alias("dup_frac"),
    )


def chunk_documents(
    df: DataFrame,
    chunk: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token-budget chunks with overlap — the
    standard pre-embedding / pre-training splitter (dual of
    ``sampling.pack_sequences``).  Chunk ``i`` covers words
    ``[i·step+1, i·step+chunk]`` with ``step = chunk − overlap``; the last
    chunk truncates at the document end.

    Scale shape: one row-local explode (1:⌈n/step⌉ fan-out bounded by doc
    length), zero shuffles; chunk text is re-assembled from the SAME split
    array, so no re-tokenization drift.  Returns
    (id, chunk_id, chunk_text, n_tokens).
    """
    if not 0 <= overlap < chunk:
        # a negative overlap (step > chunk) would silently OMIT the words
        # between consecutive chunks from every chunk
        raise ValueError(
            f"overlap must be in [0, chunk); got overlap={overlap}, "
            f"chunk={chunk}"
        )
    step = chunk - overlap
    ws = words(F.col(text_col))
    n = F.size(ws)
    # integer ceil((n - chunk)/step) + 1, floor-safe on doubles for any
    # realistic doc length
    nch = F.when(n <= chunk, F.lit(1).cast("long")).otherwise(
        F.floor((n - chunk + (step - 1)) / F.lit(step)) + 1
    )
    base = df.select(
        F.col(id_col),
        ws.alias("_ws"),
        F.explode(F.sequence(F.lit(0).cast("long"), nch - 1)).alias("chunk_id"),
    )
    start = (F.col("chunk_id") * step + 1).cast("int")
    piece = F.slice(F.col("_ws"), start, chunk)
    return base.select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def filter_by_quality_quantile(
    df: DataFrame,
    q: float = 0.2,
    text_col: str = "text",
    n_rows: int | None = None,
    min_rows: int | None = None,
    estimator: str = "tdigest",
    key_col: str = "doc_id",
    k: int = 256,
) -> DataFrame:
    """Drop the lowest-``q`` quality quantile of the corpus — the
    quantile-cut-off filter every curation pipeline applies after scoring
    (keep rows with score ≥ the ``q``-quantile cutoff).

    Size-dispatched (:mod:`~indicators_spark.approx`): below ``min_rows``
    the cutoff is the exact interpolated percentile; at scale it comes
    from the chosen ``estimator`` — ``"tdigest"`` (``percentile_approx``:
    bounded state, rank error ≤ n/accuracy) or ``"kmv"`` (a deterministic
    bottom-k sample quantile via :func:`~.approx.kmv_percentile_cutoff`,
    exactly replayable in SQL — the driver-verifiable sketch path).

    Scale shape on EVERY path: one scalar aggregate broadcast back as a
    1-row cross join; the corpus itself never shuffles.  Scores and
    cutoff are quantized to 4dp before the comparison so the boundary is
    reproducible cross-engine.
    """
    from ..approx import (
        _dispatch_rows,
        kmv_percentile_cutoff,
        percentile_auto,
    )

    scored = with_quality_score(df, text_col)
    r4 = lambda c: F.floor(c * 1e4 + F.lit(0.500000001)) / 1e4  # noqa: E731
    scored = scored.withColumn("quality_score", r4(F.col("quality_score")))
    # one dispatch contract for the whole approx family (no-free-count:
    # known n_rows dispatches free, explicit min_rows buys one counting
    # pass, neither → exact branch with zero extra scans — ADVICE r7)
    n_rows, min_rows = _dispatch_rows(df, n_rows, min_rows)
    if n_rows >= min_rows and estimator == "kmv":
        cutoff = kmv_percentile_cutoff(
            scored, value_col="quality_score", key_col=key_col, q=q, k=k
        ).select(r4(F.col("_cut")).alias("_cut"))
    else:
        cutoff = scored.agg(
            r4(percentile_auto("quality_score", q, n_rows, min_rows)).alias(
                "_cut"
            )
        )
    return (
        scored.crossJoin(F.broadcast(cutoff))
        .filter(F.col("quality_score") >= F.col("_cut"))
        .drop("_cut")
    )


#: Gopher rule thresholds (Rae et al. 2021 §A1.1, as adopted by
#: RedPajama/Dolma): hard per-document filters, the cheap complement to
#: the soft :func:`with_quality_score` ranking.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_AVG_LEN, GOPHER_MAX_AVG_LEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style hard quality rules: one boolean per rule plus the
    conjunction ``keep`` — the standard pre-training hard filter bundle
    (word-count band, mean word length band, symbol-to-word ratio,
    bullet-/ellipsis-line fractions, alphabetic-word fraction, minimum
    stopword hits).

    Everything is row-local codegen'd expression work over one scan —
    zero shuffles at any corpus size — and every ratio is a division of
    integer counts, so the threshold comparisons are bit-identical on
    any IEEE engine (fully value-hash oracle-checkable).  NULL text
    fails every rule (``keep = false``), mirroring how a curation
    pipeline treats an unreadable document."""
    t = F.col(text_col)
    ws = words(t)
    n = F.size(ws).cast("double")
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("double")
    hash_cnt = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    bullet = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("-") | x.startswith("*") | x.startswith("•"),
        )
    ).cast("double")
    ell_lines = F.size(F.filter(lines, lambda x: x.endswith("..."))).cast(
        "double"
    )
    alpha = F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
    flags = {
        "ok_word_count": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "ok_avg_word_len": (
            ((F.length(t) - (n - 1)) / n >= GOPHER_MIN_AVG_LEN)
            & ((F.length(t) - (n - 1)) / n <= GOPHER_MAX_AVG_LEN)
        ),
        "ok_symbol_ratio": (hash_cnt + ell_cnt) / n <= GOPHER_MAX_SYMBOL_RATIO,
        "ok_bullet_lines": bullet / n_lines <= GOPHER_MAX_BULLET_FRAC,
        "ok_ellipsis_lines": ell_lines / n_lines <= GOPHER_MAX_ELLIPSIS_FRAC,
        "ok_alpha_words": alpha / n >= GOPHER_MIN_ALPHA_WORD_FRAC,
        "ok_stopwords": _count_in(ws, STOPWORDS) >= GOPHER_MIN_STOPWORD_HITS,
    }
    out = df.withColumn("n_words", F.size(ws).cast("long"))
    keep = F.lit(True)
    for name, c in flags.items():
        c = F.coalesce(c, F.lit(False))
        out = out.withColumn(name, c)
        keep = keep & c
    return out.withColumn("keep", keep)


#: GPT-2-style pre-tokenizer, reduced to constructs with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB): runs of letters,
#: runs of digits, runs of other non-space symbols — each optionally
#: preceded by one space — and residual whitespace runs.
BPE_TOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def with_bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Approximate LLM-token accounting: counts matches of a GPT-2-like
    pre-tokenizer regex (the "BPE-ish" estimate pipelines use for token
    budgets before running a real tokenizer).  Pure codegen'd regexp —
    row-local, zero shuffle; the parquet scan is the only cost."""
    return df.withColumn(
        "bpe_token_count", F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE))
    )


def with_compression_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style compressibility quality signal: zlib-compressed size
    over raw size.  Highly repetitive/templated documents compress far
    below natural text (~0.4–0.6) and low ratios flag them for removal;
    random noise sits near 1.0.

    This is the engine's canonical **Arrow-batched scalar pandas UDF**
    shape: Python is unavoidable (no zlib in Spark SQL), so the work
    arrives in columnar batches, compresses with the C zlib, and returns
    one double per row — row-local, zero shuffle, scales with cores.  No
    SQL oracle exists for zlib (driver records a rows-only check); the
    deterministic behavior is pinned by unit tests instead.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        def one(t: str) -> float:
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        # na_action keeps NULL text NULL instead of crashing on None
        return texts.map(one, na_action="ignore")

    return df.withColumn("compression_ratio", _ratio(F.col(text_col)))


def with_lang_margin(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID confidence: the margin between the best and second-best
    per-language marker-hit counts (0 = ambiguous, high = confident).
    Both engines sort the identical hit array, so the margin is exact
    regardless of which language wins ties.  Row-local, zero shuffle."""
    ws = words(F.col(text_col))
    hits = F.array(
        *[_count_in(ws, vocab) for vocab in LANG_MARKERS.values()]
    )
    srt = F.array_sort(hits)
    k = len(LANG_MARKERS)
    return df.withColumn(
        "lang_margin",
        (F.element_at(srt, k) - F.element_at(srt, k - 1)).cast("long"),
    )


#: PII patterns, applied IN ORDER to the progressively-redacted text (so
#: e.g. an SSN is counted/replaced before the looser phone pattern can
#: swallow it).  RE2-safe subset — no lookaround, no backreferences — so
#: the DuckDB oracle runs the SAME patterns verbatim.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d() .-]{7,14}\d\b", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub personally identifiable information for training-data
    hygiene: emails, SSN-shaped ids, IPv4 addresses, phone-shaped digit
    runs → placeholder tokens, with a per-pattern hit count per document
    (``pii_email_count``, …) and the total (``pii_total_count``).

    Counts are taken on the text as redacted by the EARLIER patterns
    (sequential semantics), so overlapping matches are never
    double-counted and the count always equals the number of
    replacements made.

    Scale shape: a chain of codegen'd ``regexp_count``/``regexp_replace``
    expressions — row-local, zero shuffle, whole-stage codegen; the ideal
    100 TB map operator (cf. reference utils.py — the reference has no
    PII handling; this is a north-star extension)."""
    t = F.col(text_col)
    cols: dict[str, Column] = {}
    total = F.lit(0).cast("long")
    for name, pat, token in PII_PATTERNS:
        c = F.regexp_count(t, F.lit(pat)).cast("long")
        cols[f"pii_{name}_count"] = c
        total = total + c
        t = F.regexp_replace(t, pat, token)
    cols["pii_total_count"] = total
    cols["redacted"] = t
    return df.withColumns(cols)


def chunk_dedup_exact(
    df: DataFrame,
    chunk: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document chunk-level exact dedup — the passage-granular
    variant of corpus dedup (boilerplate/quotes recur across documents
    that are NOT near-dups at whole-doc granularity).  Every distinct
    chunk text keeps exactly one owner, the globally first occurrence
    (min (doc_id, chunk_id)); per-document survival stats come back as
    ``(doc_id, n_chunks, kept_chunks, kept_frac)``.

    Scale shape: chunking is the row-local explode
    (:func:`chunk_documents`); ownership is ONE min-struct groupBy keyed
    on the chunk md5 — 16-byte keys + two ids through the shuffle, never
    chunk text — and the mark-back join is on the same key, so AQE/
    exchange reuse keeps it a single fan-in.  No pairwise comparison
    anywhere (exact equality needs none)."""
    ch = chunk_documents(df, chunk, overlap, id_col, text_col)
    fp = ch.select(
        id_col, "chunk_id", F.md5(F.col("chunk_text")).alias("_fp")
    )
    keep = fp.groupBy("_fp").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_id"))).alias("_k")
    )
    marked = fp.join(keep, "_fp").withColumn(
        "_kept",
        (
            (F.col("_k")[id_col] == F.col(id_col))
            & (F.col("_k")["chunk_id"] == F.col("chunk_id"))
        ).cast("long"),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("_kept").alias("kept_chunks"),
        )
        .withColumn(
            "kept_frac", F.col("kept_chunks") / F.col("n_chunks")
        )
    )


def vocab_stats(
    df: DataFrame, top_k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary table: the ``top_k`` most frequent tokens with
    occurrence count, document frequency, and corpus share — the Zipf
    table every tokenizer-training / vocab-coverage audit starts from.

    Scale shape: one (token-key) groupBy with map-side partial agg —
    shuffles carry (token, 1) pairs, text never moves; the corpus total
    rides the same aggregation as a broadcast one-row frame.  Top-k is
    ``orderBy().limit()`` → TakeOrderedAndProject (per-partition heap +
    k·P driver merge), NEVER a global row_number window over the full
    vocabulary — rank is attached after the limit, when only ``top_k``
    rows remain.  Ties break lexicographically for cross-engine
    determinism."""
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(words(F.col(text_col))).alias("tok")
    )
    stats = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct(F.col("_id")).alias("docs"),
    )
    # total from the AGGREGATED side — a second corpus explode just for a
    # scalar would re-run the dominant scan at corpus scale
    total = stats.agg(F.sum("cnt").alias("_n"))
    top = stats.orderBy(F.desc("cnt"), "tok").limit(top_k)
    w = Window.orderBy(F.desc("cnt"), "tok")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "tok",
            "cnt",
            "docs",
            (F.col("cnt").cast("double") / F.col("_n")).alias("share"),
        )
    )


def source_ngram_overlap(
    df: DataFrame,
    n: int = 5,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source contamination / overlap matrix: for every source pair
    (sa < sb), the number of distinct word ``n``-grams present in BOTH
    sources, plus per-source distinct-gram counts and the n-gram Jaccard.
    The corpus-curation dual of per-document dedup — tells you which
    ingest feeds are mirrors/scrapes of each other before you mix them.

    Scale shape: (source, gram-hash) pairs are distinct'd (one shuffle on
    the 8-byte hash; text never moves), and the pair join is keyed on the
    gram hash where each gram meets at most |sources| rows — so even a
    ubiquitous boilerplate gram contributes ≤ |sources|² pairs, a small
    constant.  Per-source sizes broadcast back.  No document-pair or
    doc×gram quadratic stage anywhere."""
    # tokens as a column first (no CSE inside lambdas — see
    # duplicate_passage_fraction)
    sg = (
        df.select(
            F.col(source_col).alias("src"), words(F.col(text_col)).alias("_ws")
        )
        .select("src", F.explode(word_ngrams(F.col("_ws"), n)).alias("g"))
        .select("src", F.xxhash64(F.col("g")).alias("gh"))
        .distinct()
    )
    sizes = sg.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    a = sg.select(F.col("src").alias("sa"), "gh")
    b = sg.select(F.col("src").alias("sb"), "gh")
    shared = (
        a.join(b, "gh")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("src").alias("sa"), F.col("sz").alias("na"))),
            "sa",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("sb"), F.col("sz").alias("nb"))),
            "sb",
        )
        .select(
            "sa",
            "sb",
            "n_shared",
            "na",
            "nb",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def doc_token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram Shannon entropy (nats): ``H = ln T − Σ c·ln c / T``
    over the document's token counts — the classic diversity/quality
    signal (template spam and keyword stuffing sit at low entropy; natural
    prose near the corpus ceiling).

    One (doc, token) groupBy then one per-doc agg — shuffles carry token
    hashes and counts, never text.  The log-identity form needs a single
    aggregation pass instead of joining per-doc totals back."""
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(words(F.col(text_col))).alias("tok")
    )
    tc = toks.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tc.groupBy("_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("_s"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        (
            F.log(F.col("n_tokens").cast("double"))
            - F.col("_s") / F.col("n_tokens")
        ).alias("entropy"),
    )


def source_kl_divergence(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution:
    ``KL(P_s ‖ Q) = Σ_tok P_s(tok)·ln(P_s(tok)/Q(tok))`` — the drift
    signal that flags an ingest feed whose language suddenly diverges
    from the corpus mix (encoding breakage, spam floods, wrong-language
    scrapes).  Every source token also occurs in the corpus, so Q > 0
    wherever P_s > 0 and the sum is finite by construction.

    Scale shape: two token-keyed groupBys (per-source and corpus counts)
    + a join on token hash; sums ride map-side partial agg.  The corpus
    side is |vocab| rows — broadcast-sized for any real tokenizer."""
    toks = df.select(
        F.col(source_col).alias("src"), F.explode(words(F.col(text_col))).alias("tok")
    )
    sc = toks.groupBy("src", "tok").agg(F.count(F.lit(1)).alias("cs"))
    cc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cq"))
    totals = sc.groupBy("src").agg(F.sum("cs").alias("ts"))
    tq = cc.agg(F.sum("cq").alias("tq"))  # from the aggregated side — no re-scan
    j = (
        sc.join(F.broadcast(cc), "tok")
        .join(F.broadcast(totals), "src")
        .crossJoin(F.broadcast(tq))
    )
    term = (F.col("cs").cast("double") / F.col("ts")) * F.log(
        (F.col("cs").cast("double") / F.col("ts"))
        / (F.col("cq").cast("double") / F.col("tq"))
    )
    return (
        j.groupBy("src")
        .agg(F.max("ts").alias("n_tokens"), F.sum(term).alias("kl"))
        .select(F.col("src").alias(source_col), "n_tokens", "kl")
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 30
) -> DataFrame:
    """One BPE merge-selection round at corpus scale: frequency of every
    adjacent character pair inside whitespace words, top-``top_k`` by
    count — the inner statistic a distributed tokenizer trainer computes
    each merge iteration (the merge picked is simply the top row).

    Scale shape: pair extraction is a row-local 1:N explode (a
    ``sequence``→``substring`` transform, all codegen'd — no Python), the
    count is ONE pair-keyed groupBy with map-side partial aggregation
    (the shuffle carries ≤ |alphabet|² distinct 2-char keys per partition,
    a few KB regardless of corpus size), and top-k is
    ``orderBy().limit()`` → TakeOrderedAndProject, never a global sort of
    the counts.  Rank attaches after the limit, over top_k rows only."""
    w = F.explode(words(F.lower(F.col(text_col)))).alias("w")
    # dynamic-start substring needs the expr form (Column starts unsupported)
    # Tokens are capped at their first 64 chars (≤63 pairs): BPE
    # pre-tokenizers split longer runs anyway, and the cap keeps the
    # explode bounded on adversarial mega-tokens.  Mirrored in the oracle.
    pairs = (
        df.select(w)
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, least(char_length(w) - 1, 63)),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top_k)
    )
    win = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(win)).select(
        "rank", "pair", "cnt"
    )


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    max_word_len: int = 32,
) -> DataFrame:
    """Learn a BPE merge table at corpus scale — the ITERATIVE trainer
    :func:`bpe_pair_counts` is one round of (Sennrich et al. 2016):
    start from characters, repeatedly pick the most frequent adjacent
    symbol pair and merge every leftmost non-overlapping occurrence,
    recounting after each merge.  Returns the merge trajectory
    ``(rank, pair, merged, cnt)`` — the artifact a tokenizer ships.
    Ties break (count desc, pair lexicographic asc); stops early when
    no pair remains (every word fused to one symbol).

    Scale shape: ONE corpus scan builds the (word, count) vocabulary
    table (words lowercased, capped at ``max_word_len`` chars like
    :func:`bpe_pair_counts`' 64 — BPE pre-tokenizers split longer runs
    anyway), materialized once; every merge step then runs on that
    VOCAB-sized state, frequency-weighted — pair counting is a
    bounded-key groupBy with map-side partials and the winning pair is
    a 1-row TakeOrdered (k·|pair| driver strings re-entering as plan
    literals, the k-means budget).  Step t re-derives the current
    symbol string through a t-deep literal ``replace`` chain over the
    checkpointed vocab (the kcenter-chain trade: zero per-step
    materialization, fine for tokenizer-scale k).

    Merge application is engine-portable by construction: symbols are
    joined with TWO spaces and each literal replace of
    ``' a  b ' → ' ab '`` consumes exactly one space from each
    flanking gap, so consecutive occurrences (``a b a b``) all merge
    in one left-to-right pass while overlaps (``a a a`` merging
    ``(a,a)``) resolve leftmost-first — byte-identical semantics for
    Spark's ``replace`` and DuckDB's, no regex anywhere, so the whole
    trajectory replays in unrolled SQL CTEs."""
    from .materialize import shared_lazy as shared

    if n_merges < 1:
        raise ValueError(f"bpe_learn_merges: n_merges must be >= 1, got {n_merges!r}")
    wc = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(words(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .select(F.substring("w", 1, max_word_len).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    state = shared(wc.select(_bpe_char_syms(F.col("w")).alias("s"), "wc"))
    merges: list[tuple[int, str, str, int]] = []
    for t in range(1, n_merges + 1):
        cur = F.col("s")
        for _, pr, _, _ in merges:
            a, b = pr.split(" ")
            cur = _bpe_merge_step(cur, a, b)
        # PROJECT the split before the pair lambda: Spark does no CSE
        # inside lambda functions (the word_bigram_structs trap), so an
        # unprojected `syms` would re-run the t-deep replace chain per
        # element per element_at
        step = state.select(F.split(cur, "  ").alias("syms"), "wc")
        syms = F.col("syms")
        n = F.size(syms)
        # Spark's sequence(1, 0) counts DOWN — guard 1-symbol words to
        # an empty pair list instead (DuckDB's generate_series is empty)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        prs = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(syms, i), F.element_at(syms, i + 1)
            ),
        )
        top = (
            step.select(F.explode(prs).alias("pr"), "wc")
            .groupBy("pr")
            .agg(F.sum("wc").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pr"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully fused: nothing left to merge
        pr, c = top[0]["pr"], int(top[0]["c"])
        merges.append((t, pr, pr.replace(" ", ""), c))
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "rank long, pair string, merged string, cnt long"
    )


def _bpe_char_syms(w: Column) -> Column:
    """Per-word BPE initial state: characters joined by TWO spaces —
    the one copy of the symbol-string encoding both the trainer and
    :func:`bpe_apply_merges` build on (a padding/cap change in one
    place cannot silently break train→encode parity)."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.char_length(w)),
            lambda i: F.substring(w, i, F.lit(1)),
        ),
        "  ",
    )


def _bpe_merge_step(s: Column, a: str, b: str) -> Column:
    """Apply one merge to a two-space symbol string: the literal
    replace consumes exactly one space from each flanking gap, so
    consecutive occurrences all merge in one left-to-right pass and
    overlap runs resolve leftmost-first — the one copy of the rule
    (symbols enter as F.lit, so any character content is safe)."""
    return F.trim(
        F.replace(
            F.concat(F.lit("  "), s, F.lit("  ")),
            F.lit(f" {a}  {b} "),
            F.lit(f" {a}{b} "),
        )
    )


def bpe_apply_merges(
    df: DataFrame,
    merges: list[str],
    text_col: str = "text",
    max_word_len: int = 32,
    out: str = "bpe_tokens",
) -> DataFrame:
    """Encode with a LEARNED merge table (the production half of
    :func:`bpe_learn_merges`: train once on a sample, encode the whole
    corpus).  Adds ``out`` = the document's post-merge token count (the
    real token budget a context window pays, vs the regex ESTIMATE of
    :func:`with_bpe_token_count`).  NULL text → NULL.

    Map-only, zero shuffle: an Arrow-batched pandas UDF carrying the
    merge table as a rank dict and running the classic lowest-rank-first
    encode loop.  Replaying the merges as a chain of string expressions
    instead (zero Python workers) measured 15-21 s against the UDF's
    2-4 s per 500k docs at every table size from 4 to 10k merges
    (bench_scale.py): its per-character higher-order string expressions
    cost more than the Arrow transfer + python dict loop, and a 10k+-deep
    expression tree breaks codegen.

    ``merges`` must be a RANK-MONOTONE table in the trainer's format:
    entry ``r``'s pair is built only from symbols that exist after
    applying entries ``< r`` (every table :func:`bpe_learn_merges`
    emits is, by construction).  This is a semantic precondition, not
    just an equivalence-proof assumption: for a hand-crafted table
    where a LATER merge creates an occurrence of an EARLIER pair, the
    lowest-rank-first loop revisits earlier ranks, so counts differ from
    applying each merge once in rank order (the trainer's replay,
    :func:`_bpe_merge_step`).  On trainer-format tables the two are
    IDENTICAL: a merge can only create adjacencies involving its OWN new
    symbol, and any pair containing that symbol was necessarily learned
    later (higher rank) — pinned in tests."""
    parsed = []
    for pr in merges:
        try:
            a, b = pr.split(" ")  # exactly one space — the trainer's format
        except (ValueError, AttributeError):
            raise ValueError(
                "bpe_apply_merges: each merge must be 'left right' (two "
                f"symbols, one space — bpe_learn_merges' pair format); got "
                f"{pr!r}"
            ) from None
        parsed.append((a, b))
    from pyspark.sql.functions import pandas_udf

    ranks = {p: r for r, p in enumerate(parsed)}
    cap = int(max_word_len)

    @pandas_udf("long")
    def _encode(texts: pd.Series) -> pd.Series:
        def enc_word(w: str) -> int:
            syms = list(w[:cap])
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                a, b = parsed[best]
                merged, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                syms = merged
            return len(syms)

        def enc(t: str) -> int:
            return sum(enc_word(w) for w in t.lower().split(" ") if w)

        return texts.map(enc, na_action="ignore")

    return df.withColumn(out, _encode(F.col(text_col)))


#: C4 heuristics (Raffel et al. 2020 §2.2): line keep-rules + page
#: drop-rules.  The badword list is a tiny neutral placeholder for the
#: blocklist C4 uses; matching is whole-word, as C4 specifies ("any word
#: on the list"), so e.g. "Essex" never trips a "sex" entry.
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
C4_BADWORDS = ("fuck", "shit", "bitch", "porn", "xxx")


def c4_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2): the line-level keep rules
    (ends in terminal punctuation ``.!?"``; at least
    ``C4_MIN_LINE_WORDS`` words; no "javascript") rebuild the page from
    surviving lines, and the page-level drop rules flag it — at least
    ``C4_MIN_SENTENCES`` sentences in the retained text, no
    "lorem ipsum", no curly brace, no blocklisted word.  The hard
    complement to :func:`gopher_rules` (Gopher measures the page;
    C4 rewrites it).

    Returns every input row with ``clean_text`` (NULL text passes
    through as NULL, the extraction-failure contract), ``n_lines`` /
    ``n_kept`` line accounting, one boolean per page rule, and the
    conjunction ``keep``.  All row-local codegen'd expression work —
    zero shuffles at any corpus size; ratios never divide, so flags are
    bit-identical on any engine (fully value-hash oracle-checkable).
    """
    t = F.col(text_col)
    ls = F.split(t, "\n")
    line_ok = lambda x: (  # noqa: E731
        F.rtrim(x).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(x), r"\s+")) >= C4_MIN_LINE_WORDS)
        & ~F.lower(x).contains("javascript")
    )
    kept = F.filter(ls, line_ok)
    clean = F.when(t.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat_ws("\n", kept)
    )
    out = df.withColumn("clean_text", clean).withColumn(
        "n_lines",
        F.coalesce(F.size(ls), F.lit(0)).cast("long"),
    )
    out = out.withColumn(
        "n_kept",
        F.when(t.isNull(), F.lit(0)).otherwise(F.size(kept)).cast("long"),
    )
    flags = {
        "ok_sentences": F.regexp_count(F.col("clean_text"), F.lit(r"[.!?]"))
        >= C4_MIN_SENTENCES,
        "ok_no_lorem": ~F.lower(t).contains("lorem ipsum"),
        "ok_no_brace": ~t.contains("{"),
        "ok_no_badwords": ~F.exists(
            words(t), lambda w: F.lower(w).isin(*C4_BADWORDS)
        ),
    }
    keep = F.lit(True)
    for name, c in flags.items():
        c = F.coalesce(c, F.lit(False))
        out = out.withColumn(name, c)
        keep = keep & c
    return out.withColumn("keep", keep)


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 30,
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    word bigrams: ``pmi = ln(c12·N / (c1·c2))`` with N the total bigram
    count — the standard phrase detector (word2vec's phrase pass,
    Gensim's Phrases) that surfaces multiword units worth treating as
    single tokens before tokenizer training.  ``min_count`` kills the
    rare-pair noise PMI famously inflates.

    Returns the top-``top_k`` (rank, w1, w2, c12, pmi 4dp-quantized),
    PMI desc / pair asc — exact integer counts plus one log, so fully
    value-hash portable.

    Scale shape: one row-local bigram explode, three count aggregations
    with map-side partials (pair, left-unigram, right-unigram), the two
    unigram tables broadcast back onto the min_count-PRUNED pair table,
    and top-k by sort+limit (TakeOrdered, no global sort).  Unigram
    tables are vocab-sized — at 100 TB bucket the join if the vocab
    outgrows broadcast; every other stage is count-shaped."""
    ws = words(F.col(text_col))
    pairs = (
        df.filter(F.col(text_col).isNotNull())
        .select(ws.alias("_ws"))
        .select(F.explode(word_bigram_structs(F.col("_ws"))).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    n = pairs.agg(F.count(F.lit(1)).alias("n"))
    pmi = F.log(
        F.col("c12").cast("double")
        * F.col("n").cast("double")
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    scored = (
        c12.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            (F.floor(pmi * 1e4 + 0.500000001) / 1e4).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(top_k)
    win = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return top.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).select("rank", "w1", "w2", "c12", "pmi")
