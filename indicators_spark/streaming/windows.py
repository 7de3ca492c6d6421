"""Structured Streaming operators over the ``events`` schema.

The batch query catalog (queries/ext.py) proves the window semantics
against the DuckDB oracle; these functions run the SAME logical operators
as streams — ``readStream`` → watermark → windowed agg / stateful map —
so a user can lift a batch pipeline to a continuous one unchanged.  Tests
drive them with the file source + memory sink (processAllAvailable), the
standard local smoke harness.

Scale notes: watermark + append mode bounds state; tumbling/session state
is per (window, key) and evicted past the watermark.  The stateful
indicator keeps O(1) state per symbol (the EWM recurrence carry), which is
exactly the streaming form of the engine's batch EWM — the linear
recurrence composes across micro-batches by carrying (ema, n, last_ns,
last_eid) — the (event-time, event-id) frontier drops only true
cross-batch stragglers (rows at or before what the recurrence already
consumed); equal-timestamp on-time rows in a later batch survive.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Schema of the driver's events table, for schema-required streaming reads
#: (ts arrives as µs timestamp when pre-converted; see tests).
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def tumbling_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming tumbling-window counts/sums per event_type with a
    watermark for late data (append-mode compatible)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionized_counts_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming session windows per user (merging-window state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


#: Frontier carry: event-time NANOSECONDS (pinned explicitly in
#: :func:`_ema_advance` — pandas' default datetime64[ns] int view happens
#: to be ns today, but the unit must not float with a pandas/Arrow
#: resolution change while checkpointed state is in flight) plus the
#: event_id tie-break, so an on-time event that shares its timestamp with
#: the frontier but arrives in a later micro-batch is NOT dropped.
_STATE_SCHEMA = "ema double, n long, last_ns long, last_eid long"
_OUT_SCHEMA = "event_type string, ts timestamp, value double, ema double"

#: int64 min: "no frontier yet" sentinel (below any representable ns/id).
_FRONTIER_INIT = -(1 << 63)


def _ema_advance(
    pdf: pd.DataFrame, carry: tuple, alpha: float = 0.1
) -> tuple[pd.DataFrame | None, tuple]:
    """The shared EMA recurrence body for BOTH stateful engines (the
    GroupState fn and the transformWithState processor wrap this — one
    implementation, one set of frontier semantics).

    Sorts the micro-batch by (ts, event_id), drops only rows at or before
    the carried (last_ns, last_eid) frontier — i.e. rows the recurrence
    has already consumed or true cross-batch stragglers; an equal-ts
    higher-id row in a later batch is on time and survives — then folds
    the recurrence.  Returns ``(output or None, new_carry)``."""
    ema, n, last_ns, last_eid = carry
    if not len(pdf):
        return None, carry
    pdf = pdf.sort_values(["ts", "event_id"])
    ns = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64")
    eid = pdf["event_id"].to_numpy()
    keep = (ns > last_ns) | ((ns == last_ns) & (eid > last_eid))
    pdf = pdf[keep]
    ns, eid = ns[keep], eid[keep]
    emas = []
    for x in pdf["value"]:
        ema = x if n == 0 else (1 - alpha) * ema + alpha * x
        n += 1
        emas.append(ema)
    if len(ns):
        last_ns, last_eid = int(ns[-1]), int(eid[-1])
    out = pd.DataFrame(
        {
            "event_type": pdf["event_type"],
            "ts": pdf["ts"],
            "value": pdf["value"],
            "ema": emas,
        }
    )
    return out, (ema, n, last_ns, last_eid)


def _ema_state_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-symbol running EMA across micro-batches: the O(1) recurrence
    carry (ema, count, frontier) lives in GroupState — the streaming twin
    of the batch applyInPandas EWM (ewm.py)."""
    carry = state.get if state.exists else (0.0, 0, _FRONTIER_INIT, _FRONTIER_INIT)
    # One key's micro-batch data arrives as MULTIPLE Arrow chunks in
    # arbitrary order — concatenate and sort ONCE (per-chunk sorting
    # would feed the recurrence out of time order past ~10k rows/key).
    pdf = pd.concat(list(pdfs), ignore_index=True)
    out, carry = _ema_advance(pdf, carry)
    state.update(carry)
    if out is not None:
        yield out


def stateful_running_indicators(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-symbol running EMA via
    ``applyInPandasWithState`` (update mode)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _ema_state_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _RunningEmaProcessor:
    """StatefulProcessor for the Spark 4 ``transformWithState`` engine —
    the same O(1) EMA recurrence as :func:`stateful_running_indicators`,
    expressed in the newer API (typed ValueState, RocksDB-backed, timer
    support available if eviction were needed)."""

    def init(self, handle):  # noqa: ANN001
        self._carry = handle.getValueState("carry", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timer_values):  # noqa: ANN001
        got = self._carry.get() if self._carry.exists() else None
        carry = got if got is not None else (0.0, 0, _FRONTIER_INIT, _FRONTIER_INIT)
        pdf = pd.concat(list(rows), ignore_index=True)
        out, carry = _ema_advance(pdf, carry)
        self._carry.update(carry)
        if out is not None:
            yield out

    def handleInitialState(self, key, initialState, timer_values):  # noqa: ANN001
        pass

    def handleExpiredTimer(self, key, timer_values, expired_timer_info):  # noqa: ANN001
        return iter(())

    def close(self) -> None:
        pass


def stateful_running_indicators_tws(events: DataFrame) -> DataFrame:
    """Per-symbol running EMA via ``transformWithStateInPandas`` (Spark 4
    arbitrary-stateful API).  Requires the RocksDB state store provider —
    callers set ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider`` (tests do)."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc = type(
        "RunningEmaProcessor", (_RunningEmaProcessor, StatefulProcessor), {}
    )()
    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    watermark: str = "2 hours",
    upper: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream event-time interval join: each RIGHT row
    matches LEFT rows with the same ``key`` whose event time falls in
    ``[r.ts − upper, r.ts]`` (e.g. purchases attributed to clicks in the
    preceding hour).

    The time-range predicate plus both watermarks is what makes this
    feasible as a stream: Spark derives a state-eviction bound from them,
    so each side buffers only ``watermark + upper`` of history per key —
    without the range condition the join state would grow forever.  At
    scale, state is hash-partitioned by ``key``; the same hot-key caveats
    as any streaming aggregation apply.

    Returns one row per matched (left, right) pair with both timestamps.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("l.ts") <= F.col("r.ts"))
        & (F.col("l.ts") >= F.col("r.ts") - F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col("l.ts").alias("left_ts"),
        F.col("l.event_id").alias("left_id"),
        F.col("l.event_type").alias("left_type"),
        F.col("r.ts").alias("right_ts"),
        F.col("r.event_id").alias("right_id"),
        F.col("r.event_type").alias("right_type"),
    )


def enrich_stream(
    events: DataFrame, dim: DataFrame, on: str = "user_id",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    a static dimension (user profile / allowlist / model-version table).

    Stream-static equi-joins are STATELESS in Structured Streaming — no
    watermark, no state store; Spark re-plans the static side per
    micro-batch, and a small dimension rides a broadcast-hash join so the
    stream side never shuffles.  The standard shape for attaching slowly-
    changing reference data to a 100 TB/day event stream; for dims too
    big to broadcast, pass ``broadcast=False`` (and pre-bucket both sides
    on the key — ``sources/io.py.write_bucketed_table`` — so the
    per-micro-batch join is exchange-free on the static side)."""
    return events.join(F.broadcast(dim) if broadcast else dim, on, "left")


def dedup_stream_against_corpus(
    doc_stream: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
    fp_col: str = "fp",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    broadcast: bool = True,
) -> DataFrame:
    """Streaming twin of ``dedup.dedup_against_corpus`` — the production
    ingest gate: incoming documents drop out when their content
    fingerprint already exists in the historical corpus table, then the
    stream dedups against itself on the fingerprint.

    Stream-static LEFT ANTI joins are stateless (the static fingerprint
    side re-plans per micro-batch; broadcast when it fits, pre-bucketed
    otherwise); ``dropDuplicates`` keeps the FIRST ARRIVAL per
    fingerprint — the natural streaming representative (streams have
    arrival order, not id order; the batch operator's min-id pick is the
    batch analogue of the same "one survivor per content" contract).
    The 16-byte fingerprint is the only thing joined or held in state;
    document text never shuffles.

    Unbounded runs MUST pass ``ts_col``: the in-stream dedup then runs as
    ``dropDuplicatesWithinWatermark`` so per-fingerprint state is evicted
    past the watermark (the corpus table provides the durable memory —
    fold survivors into it periodically).  Without ``ts_col`` state grows
    per distinct fingerprint forever — acceptable only for bounded
    backfills.  ``broadcast=False`` for fingerprint tables too big to
    broadcast (pre-bucket them on the fingerprint instead)."""
    # The output carries the computed fingerprint as ``fp_col``; a stream
    # that already has a column of that name would end up with two — an
    # AMBIGUOUS_REFERENCE trap downstream — so reject it up front.
    if fp_col in doc_stream.columns:
        raise ValueError(
            f"dedup_stream_against_corpus: doc_stream already has a "
            f"{fp_col!r} column — drop/rename it, or pass a different fp_col "
            "for the computed fingerprint"
        )
    tmp = "_fp"
    while tmp in doc_stream.columns:
        tmp += "_"
    fp = doc_stream.withColumn(tmp, F.md5(F.col(text_col)))
    corpus_side = corpus_fps.select(F.col(fp_col).alias(tmp))
    fresh = fp.join(
        F.broadcast(corpus_side) if broadcast else corpus_side,
        tmp,
        "left_anti",
    )
    if ts_col is not None:
        fresh = fresh.withWatermark(ts_col, watermark)
        deduped = fresh.dropDuplicatesWithinWatermark([tmp])
    else:
        deduped = fresh.dropDuplicates([tmp])
    return deduped.withColumnRenamed(tmp, fp_col)
