"""The ``Indicators`` fluent API — PySpark-native re-expression of the
reference engine (GandhiParth/Indicators, ``indicators.py:8-63``).

The reference wraps a Polars LazyFrame; here the same surface wraps a
``pyspark.sql.DataFrame`` (also lazy — Catalyst plays the role of the
Polars optimizer).  Every operator appends window/aggregate *expressions*
to the logical plan; nothing executes until the caller takes an action.

Design decisions vs the reference (SURVEY.md §1/§3):

* ``symbol`` injection: if absent, a literal ``"x"`` is added (reference
  indicators.py:25-27) and dropped again by :meth:`collect` — but, unlike
  the reference, :meth:`collect` here does NOT mutate the wrapped frame
  (SURVEY.md §2c.6 notes the reference's second-collect quirk).
* No global sort at construction (reference indicators.py:28): ordering is
  carried by every window spec's ``orderBy`` instead, so Spark never pays a
  full-shuffle sort for a property the windows already guarantee.  An
  optional ``order_by`` lets callers add tie-breaker columns for
  deterministic results on duplicate timestamps.
* ``partition_mode``:
    - ``"faithful"`` (default) replicates the reference's irregular mix of
      per-symbol and global (un-partitioned) computations exactly
      (SURVEY.md §2c.3).
    - ``"per_symbol"`` computes *every* operator per symbol — the scalable
      mode: all windows hash-partition on ``symbol`` and parallelize.
* **Size-dispatched halo windows**: on symbol-less input (the reference's
  primary shape — one instrument's OHLCV frame) every window is
  effectively global, which plans one SinglePartition ``WindowExec`` —
  fine at test scale, a one-task stage at 100 TB.  When such a frame
  holds ≥ ``scale.HALO_MIN_ROWS`` rows, the window builders transparently
  switch to a halo-bucket session (``scale.halo_frame``): the frame is
  range-bucketed on the order key, each bucket carries ``halo_depth``
  duplicated boundary rows in both directions, windows partition by
  bucket (parallel, exact on non-halo rows), and halo rows are filtered
  at :meth:`collect`.  Chained operators consume the halo budget
  cumulatively; the session re-halos (one extra shuffle) when a budget
  would be exceeded, and cumulative-frame / EWM / fill operators collapse
  the session first (their scale paths are the explicit scale.py /
  ewm.py kernels).  Values are IDENTICAL to the plain form either way —
  the dispatch picks a physical plan, never semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, WindowSpec
from pyspark.sql import functions as F

from . import kernels as K
from .ewm import Step, apply_ewm_program
from .operators.momentum import MomentumOps
from .operators.nulls import NullOps
from .operators.returns import ReturnsOps
from .operators.trend import TrendExtOps, TrendOps
from .operators.volatility import VolatilityExtOps, VolatilityOps
from .operators.volume import VolumeOps
from .utils import validate_columns


def _order_key_double(df: DataFrame, name: str):
    """The halo session's bucketing key: ``name`` as a double, on the
    epoch-seconds scale for temporal types, SESSION-TZ-INDEPENDENT so it
    always agrees with ``scale.parquet_footer_stats`` bounds (which use
    ``timegm``/UTC):

    * ``timestamp_ntz`` → ``unix_timestamp`` (treats the naive value as
      UTC regardless of session timezone; floors to whole seconds —
      monotone, and bucketing only needs a monotone key);
    * ``date`` → days-since-epoch × 86400 (pure date arithmetic; a
      cast through timestamp would shift by the session offset);
    * anything else (tz-aware timestamp, numerics) → plain double cast.
    """
    from pyspark.sql.types import DateType, TimestampNTZType

    t = df.schema[name].dataType
    c = F.col(name)
    if isinstance(t, TimestampNTZType):
        return F.unix_timestamp(c).cast("double")
    if isinstance(t, DateType):
        epoch = F.lit("1970-01-01").cast("date")
        return (F.datediff(c, epoch).cast("double") * F.lit(86400.0))
    return c.cast("double")


class Indicators(
    TrendOps,
    TrendExtOps,
    MomentumOps,
    VolatilityOps,
    VolatilityExtOps,
    VolumeOps,
    ReturnsOps,
    NullOps,
):
    """Fluent indicator engine over a Spark DataFrame.

    >>> ind = Indicators(df).sma(["close"], 20).rsi(["close"], 14)
    >>> result = ind.collect()          # a DataFrame — caller picks the action
    """

    def __init__(
        self,
        df: DataFrame,
        order_by: Sequence[str] = ("timestamp",),
        partition_mode: str = "faithful",
        n_rows: int | None = None,
        halo: bool | None = None,
        halo_buckets: int | None = None,
        halo_depth: int = 1024,
        order_bounds: tuple[float, float] | None = None,
    ) -> None:
        """``n_rows``: caller-known row count (catalog metadata /
        ``scale.parquet_footer_stats``) — skips the one count the size
        dispatch otherwise folds into its bounds scan.  ``halo``:
        ``None`` auto-dispatches — halo windows iff ≥
        ``scale.HALO_MIN_ROWS`` rows per window partition, on symbol-less
        input (any mode) or per_symbol mode with real symbols; ``False``
        pins the plain windows, ``True`` forces the halo session at any
        size (tests; callers who know better).  Faithful mode on a
        multi-symbol frame always keeps the plain windows.
        ``halo_buckets`` defaults to the session's default parallelism,
        capped so every bucket comfortably holds ``halo_depth`` rows;
        ``halo_depth`` must cover the deepest
        CHAINED lookback/lookahead an operator sequence composes before
        the session re-halos (a window of n charges n−1) — single calls
        needing more than ``halo_depth`` fall back to the plain window.
        ``order_bounds``: known ``(min, max)`` of the first order column
        as doubles (epoch seconds for timestamps — catalog metadata /
        ``scale.parquet_footer_stats``); together with ``n_rows`` the
        halo session then engages with ZERO pre-jobs, the same contract
        as ``scale.rolling_multi_auto``'s ``bounds``/``n_rows``."""
        if partition_mode not in ("faithful", "per_symbol"):
            raise ValueError(f"unknown partition_mode: {partition_mode!r}")
        if halo not in (None, True, False):
            raise ValueError(f"unknown halo mode: {halo!r}")
        self._symbol_flag = False
        # case-insensitive probe: Spark resolves withColumn("symbol", ...)
        # against an existing "Symbol" column under the default
        # caseSensitive=false, which would CLOBBER the user's data with
        # the injected literal
        if not any(c.lower() == "symbol" for c in df.columns):
            self._symbol_flag = True
            df = df.withColumn("symbol", F.lit("x"))
        # Pending (unflushed) EWM program: consecutive EWM-based operators
        # fuse into ONE applyInPandas pass / one exchange (see _ewm).
        self._pending: list[Step] = []
        self._pending_keep: list[str] = []
        self._pending_part: tuple[str, ...] | None = None
        self._df = df
        # a bare string satisfies Sequence[str] but tuple() would explode
        # it into characters ("timestamp" -> ('t','i','m',...))
        self._order: tuple[str, ...] = (
            (order_by,) if isinstance(order_by, str) else tuple(order_by)
        )
        self._mode = partition_mode
        validate_columns(list(self._order), df.columns)
        # halo-window size dispatch (decided lazily on first window use)
        self._halo_cfg = halo
        self._halo_hint_rows = n_rows
        self._halo_hint_bounds = order_bounds
        self._halo_buckets = halo_buckets
        self._halo_depth = int(halo_depth)
        self._halo_on: bool | None = None  # None = undecided
        self._halo_pcols: tuple[str, ...] = ()
        self._halo_meta: tuple[float, float, int] | None = None
        self._halo_active = False
        self._halo_demoted = False
        self._back_used = 0
        self._fwd_used = 0
        self._live_back = 0
        self._live_fwd = 0
        self._pending_specs = 0
        self._halo_fresh_op = True
        self._halo_rebuckets = 0

    # ------------------------------------------------------------------ #
    # lifecycle (reference indicators.py:30-76)
    # ------------------------------------------------------------------ #

    def collect(self) -> DataFrame:
        """Return the result DataFrame (injected ``symbol`` dropped).

        Unlike the reference (indicators.py:37-38) this does not mutate the
        wrapped frame, so repeated collects behave identically.  The caller
        decides the terminal action (``.collect()``/``.toPandas()``/write).
        """
        self._halo_collapse()
        return self._df.drop("symbol") if self._symbol_flag else self._df

    def show_graph(self, optimized: bool = True) -> None:
        """Render the logical/physical plan (reference ``show_graph``)."""
        df = self.collect()
        df.explain(mode="formatted" if optimized else "extended")

    def get_dataframe(self) -> DataFrame:
        """Escape hatch to the raw wrapped DataFrame (incl. injected symbol;
        any halo session is collapsed first — callers must never see the
        duplicated boundary rows)."""
        self._halo_collapse()
        return self._df

    # Polars-named alias for drop-in familiarity.
    get_lazyframe = get_dataframe

    # ------------------------------------------------------------------ #
    # internals shared by the operator mixins
    # ------------------------------------------------------------------ #

    @property
    def _df(self) -> DataFrame:
        """The wrapped frame, with any pending EWM program applied first.

        Every read path (window ops via ``_with``, validation of Column
        expressions, ``collect``) goes through this getter, so a fused EWM
        program is flushed exactly when — and only when — a non-EWM
        operation actually needs its outputs.
        """
        self._flush_ewm()
        return self.__df

    @_df.setter
    def _df(self, value: DataFrame) -> None:
        # All assignments are of the form `self._df = f(self._df)`, so the
        # getter has already flushed; a non-empty pending program here would
        # mean its steps reference a frame that no longer exists.
        assert not self._pending, "EWM program pending across _df reassignment"
        self.__df = value

    def _flush_ewm(self) -> None:
        if not self._pending:
            return
        # the EWM recurrence walks every row of its partition — duplicated
        # halo rows would corrupt it, so an active session demotes first
        # (the recursive scale path is ewm.py's own chunked-carry kernel);
        # _bucket survives as a constant so any not-yet-bound specs stay
        # resolvable, and the next _with re-engages via _halo_bind_ready
        if self._halo_active:
            self._halo_demote()
        steps, keep, part = self._pending, self._pending_keep, self._pending_part
        self._pending, self._pending_keep, self._pending_part = [], [], None
        self.__df = apply_ewm_program(
            self.__df, steps, partition_cols=part, order_cols=self._order, keep=keep
        )
        if self._halo_demoted and "_bucket" not in self.__df.columns:
            self.__df = self.__df.withColumn("_bucket", F.lit(1))

    #: session bookkeeping columns — never user-visible: excluded from
    #: name resolution so a wildcard / Column selector can't compute
    #: indicators over them (and ``validate_columns`` rejects them by
    #: name), even while a halo session holds them in the raw frame.
    _HALO_BOOKKEEPING = ("_bucket", "_halo")

    @property
    def _columns(self) -> list[str]:
        """Visible columns WITHOUT flushing: raw frame + pending EWM outputs.

        Lets a chained operator validate against a predecessor's (still
        pending) outputs without forcing the fused program to split."""
        return [
            c for c in self.__df.columns if c not in self._HALO_BOOKKEEPING
        ] + self._pending_keep

    def _partition(self, global_op: bool) -> tuple[str, ...]:
        """Partition keys for an operator: global ops lose the symbol key in
        faithful mode; per_symbol mode partitions everything."""
        if global_op and self._mode == "faithful":
            return ()
        return ("symbol",)

    def _w(self, n: int, global_op: bool) -> WindowSpec:
        return K.w_rows(n, self._halo_part(global_op, back=n - 1), self._order)

    def _wcum(self, global_op: bool) -> WindowSpec:
        # a cumulative frame needs the full prefix — no bounded halo can
        # serve it (the distributed form is scale.py's chunked carry
        # composition, e.g. the obv_chunked/vwap_chunked catalog twins).
        # Demote rather than drop: specs already created by this operator
        # keep referencing _bucket, which demotion pins to a constant —
        # global semantics, exact.  The next operator re-engages.
        if self._halo_on:
            self._halo_demote()
            return K.w_cum((*self._partition(global_op), "_bucket"), self._order)
        if self._halo_on is None:
            self._halo_decide()
            return self._wcum(global_op)
        return K.w_cum(self._partition(global_op), self._order)

    def _word(
        self, global_op: bool, back: int = 1, fwd: int = 0
    ) -> WindowSpec:
        """Ordered (frameless) window for lag/lead/row_number.  ``back`` /
        ``fwd`` declare the deepest lag/lead the caller will run over the
        returned spec (default lag-1, the diff/pct_change shape) — the
        halo session charges its budgets from them, so a deeper shift
        MUST be declared or the halo plan would silently truncate it
        (``row_number`` needs no charge: only rank DIFFERENCES within one
        window reach the outputs, and those are offset-invariant)."""
        return K.w_ord(
            self._halo_part(global_op, back=back, fwd=fwd), self._order
        )

    # ------------------------------------------------------------------ #
    # halo-window size dispatch (see module docstring)
    #
    # WindowSpecs are frame-independent, so spec creation only decides the
    # partition keys and ACCUMULATES pending budget charges; every session
    # transition (open / re-halo / demote) happens at :meth:`_with`, the
    # single point where expressions bind to the frame — a transition
    # between an operator's spec creation and its binding would otherwise
    # desync the accounting from the frame the specs finally run on.
    # ------------------------------------------------------------------ #

    def _halo_part(
        self, global_op: bool, back: int = 0, fwd: int = 0
    ) -> tuple[str, ...]:
        """Effective partition keys for a window: the faithful/per_symbol
        keys, plus ``_bucket`` when the halo session is on.  ``_bucket``
        is safe to reference unconditionally once the session is on — a
        demoted session pins it to a constant (global semantics) and
        :meth:`_with` (re)materializes it before any expression binds."""
        part = self._partition(global_op)
        if self._halo_on is None:
            self._halo_decide()
        if not self._halo_on:
            return part
        if self._halo_demoted and self._halo_fresh_op:
            # first spec of a NEW operator after a demotion: re-engage
            # lazily — the actual rebucket happens at binding time in
            # _with.  Mid-operator spec creation never re-engages: the
            # demoting operator finishes globally (exact), so its
            # already-bound columns can't feed a half-charged session.
            self._halo_demoted = False
        self._halo_fresh_op = False
        self._pending_specs += 1
        # charges are STICKY for the whole operator (reset at the next
        # validate-hook boundary): a spec re-used by a later binding —
        # kst's shared lag spec, aroon's row_number spec — composes
        # lookback on every binding it appears in, so every binding in
        # the operator re-charges the SUM of all live spec depths.  An
        # upper bound (a binding rarely uses every live spec at full
        # depth), but a sound one: after j bindings since the last
        # re-halo, no column's composed lookback chain can exceed
        # j·(live sum) = the budget charged.
        self._live_back += back
        self._live_fwd += fwd
        return (*part, "_bucket")

    def _halo_op_boundary(self) -> None:
        """Operator-entry hook (every public operator validates its
        inputs before creating any window spec — the mixin convention
        this relies on): retire the previous operator's live spec
        charges and allow a demoted session to re-engage.

        The budget accounting's soundness rests on that convention, so
        violations fail loudly: a boundary crossed while specs are
        created-but-unbound (an operator that validates mid-operator,
        or composes a nested public op after creating its own spec)
        would reset the live charges out from under those specs and
        silently undercharge — the r11 stale-halo truncation class."""
        if self._pending_specs:
            raise RuntimeError(
                "halo session: operator boundary crossed with "
                f"{self._pending_specs} window spec(s) created but not "
                "yet bound — public operators must validate once at "
                "entry, before creating any window spec"
            )
        self._live_back = 0
        self._live_fwd = 0
        self._halo_fresh_op = True

    def _halo_bind_ready(self) -> None:
        """Called by :meth:`_with` before expressions bind: settle the
        live budget charges against the session.

        * live charges fit the remaining budget → charge them;
        * they fit a FRESH session but not the remaining budget →
          re-halo (columns computed so far are exact on surviving rows,
          so they flow into the new halos losslessly);
        * one operator's live charges alone exceed the whole session
          budget (its composed chain is deeper than ``halo_depth``) →
          demote: halo rows dropped, ``_bucket`` pinned to a constant,
          the operator's remaining bindings run with global window
          semantics (exactness over plan shape — raise ``halo_depth``
          to keep such a chain parallel).
        """
        if not self._halo_on:
            return
        ps = self._pending_specs
        self._pending_specs = 0
        if self._halo_demoted:
            return  # binding runs globally on the demoted frame — exact
        lb, lf = self._live_back, self._live_fwd
        if not ps and not lb and not lf:
            # no live window specs at all (cumulative/fill/EWM operators
            # collapse the session themselves): whatever shape the frame
            # is in is the right one to bind on
            return
        if lb > self._halo_depth or lf > self._halo_depth:
            self._halo_demote()
            return
        if (
            not self._halo_active
            or self._back_used + lb > self._halo_depth
            or self._fwd_used + lf > self._halo_depth
        ):
            self._halo_rebucket()
        self._back_used += lb
        self._fwd_used += lf

    def _halo_decide(self) -> None:
        """One-time dispatch decision: halo windows iff configured on, or
        auto with a symbol-less frame (every window effectively global —
        the single-WindowExec shape) holding ≥ ``scale.HALO_MIN_ROWS``
        rows.  The row count folds into the same aggregate as the
        bucketing bounds — one skinny job, no extra pass."""
        from .scale import HALO_MIN_ROWS

        self._halo_on = False
        # the session serves two shapes exactly: a symbol-less frame
        # (every window effectively global — halos flow globally) and
        # per_symbol mode with real symbols (EVERY window partitions by
        # symbol — halos flow within each symbol, parallelism becomes
        # #symbols × #buckets instead of #symbols).  Faithful mode on a
        # multi-symbol frame mixes global and per-symbol windows, and a
        # per-symbol window over a halo'd frame would count the global
        # halo rows, so that shape stays plain.
        if self._halo_cfg is False:
            return
        if not self._symbol_flag and self._mode != "per_symbol":
            return
        self._halo_pcols = () if self._symbol_flag else ("symbol",)
        if (
            self._halo_cfg is None
            and self._halo_hint_rows is not None
            and self._halo_hint_rows < HALO_MIN_ROWS
        ):
            return
        df = self._df  # flushes any pending EWM first
        if self._halo_cfg is None and self._halo_hint_rows is None:
            # free driver-side pre-filter before paying a count job.
            # Preferred signal: Catalyst's rowCount estimate (defined
            # when CBO/table stats exist) — it is the quantity the
            # dispatch actually gates on.  Fallback: the sizeInBytes
            # estimate (file bytes for scans, propagated through
            # operators).  A frame holding HALO_MIN_ROWS rows rarely
            # compresses below 2 bytes/row, so below 2·HALO_MIN_ROWS
            # bytes it is almost certainly small → stay plain with zero
            # jobs (the every-query cost of the auto dispatch at
            # catalog/bench scale).  Residual risk, documented: heavily
            # RLE/dictionary-encoded parquet of near-constant columns
            # can beat 2 bytes/row, keeping the session off (values
            # stay exact — plan shape only); callers with such data
            # pass ``n_rows``.  Estimation failures or big/unknown
            # sizes fall through to the exact count.
            rows_est = size = None
            bare = False
            try:
                plan = df._jdf.queryExecution().optimizedPlan()
                stats = plan.stats()
                if stats.rowCount().isDefined():
                    rows_est = int(str(stats.rowCount().get()))
                    bare = plan.children().isEmpty()
                size = int(stats.sizeInBytes())
            except Exception:
                pass
            if rows_est is not None:
                # with CBO on, rowCount is propagated through filter/
                # join SELECTIVITY GUESSES and can badly underestimate a
                # large frame; trust it outright only on a bare
                # stats-backed relation (leaf plan — the number is the
                # table's own statistic), else demand an 8× margin and
                # otherwise fall through to the exact count
                if rows_est < (HALO_MIN_ROWS if bare else HALO_MIN_ROWS // 8):
                    return
            elif size is not None and size < 2 * HALO_MIN_ROWS:
                return
        if (
            self._halo_hint_rows is not None
            and self._halo_hint_bounds is not None
            and not self._halo_pcols
        ):
            # full catalog-metadata path: zero pre-jobs (the per-symbol
            # shape still probes — it needs the symbol count)
            n = self._halo_hint_rows
            lo, hi = self._halo_hint_bounds
            nsym = 1
        else:
            key = _order_key_double(df, self._order[0])
            aggs = [F.count(F.lit(1)), F.min(key), F.max(key)]
            if self._halo_pcols:
                aggs.append(F.approx_count_distinct("symbol"))
            row = df.agg(*aggs).first()
            n, lo, hi = row[0], row[1], row[2]
            nsym = max(1, row[3]) if self._halo_pcols else 1
        if self._halo_hint_rows is not None:
            n = self._halo_hint_rows
        # the single-task problem is PER-PARTITION size: a billion rows
        # over a thousand symbols already parallelizes a thousand ways —
        # and a per-symbol session must clear the HIGHER bar (plain
        # already runs #symbols-way parallel; see PER_KEY_HALO_MIN_ROWS)
        from .scale import PER_KEY_HALO_MIN_ROWS

        floor = PER_KEY_HALO_MIN_ROWS if self._halo_pcols else HALO_MIN_ROWS
        if self._halo_cfg is None and n // nsym < floor:
            return
        if lo is None or lo == hi:
            return  # degenerate order key: nothing to range-bucket
        spark = df.sparkSession
        buckets = (
            self._halo_buckets
            if self._halo_buckets is not None
            else spark.sparkContext.defaultParallelism
        )
        # every (partition, bucket) must comfortably hold a full halo
        # (tail AND head), with 4x margin for range-bucket unevenness
        buckets = min(
            int(buckets), max(1, int(n) // (4 * self._halo_depth * nsym))
        )
        if self._halo_cfg and buckets < 2:
            buckets = 2  # forced mode (tests): let the precondition checks
            # in scale._halo_route arbitrate exactness
        if buckets < 2:
            return
        self._halo_meta = (float(lo), float(hi), buckets)
        self._halo_on = True

    #: every this-many re-halos, the session truncates plan lineage with
    #: an eager localCheckpoint of the collapsed frame: each re-halo
    #: references its input subtree ~3× (base / presence / halo branch),
    #: so k uncheckpointed re-halos nest ~3^k subtree copies into the
    #: logical plan — a budget-starved chain (halo_depth ≪ the chain's
    #: total lookback) hangs Catalyst analysis outright without this.
    #: The checkpoint materializes the working set to executor-local
    #: disk; chains sized so halo_depth covers them never pay it.
    #: Cadence measured on the pathological 20-rebucket chain: every=2
    #: (27 s) beats every=1 (78 s — per-rebucket materialization) and
    #: every=3 (110 s — ~3^3 analysis growth between checkpoints).
    HALO_CHECKPOINT_EVERY = 2

    def _halo_rebucket(self) -> None:
        """(Re)open the halo session: range-bucket on the order key and
        attach fresh halos both ways.  Columns computed so far are exact
        on the surviving rows, so they flow into the new halos unchanged;
        budgets reset."""
        from .scale import _with_bucket, halo_frame

        self._halo_collapse()
        self._halo_rebuckets += 1
        lo, hi, buckets = self._halo_meta
        df = self._df
        if self._halo_rebuckets % self.HALO_CHECKPOINT_EVERY == 0:
            df = df.localCheckpoint()
        df = df.withColumn(
            "_hkey", _order_key_double(df, self._order[0])
        )
        df = _with_bucket(
            df, self._order, buckets, bucket_by="_hkey", bounds=(lo, hi)
        ).drop("_hkey")
        self._df = halo_frame(
            df,
            self._order,
            self._halo_pcols,
            back=self._halo_depth,
            fwd=self._halo_depth,
        )
        self._halo_active = True
        self._halo_demoted = False
        self._back_used = 0
        self._fwd_used = 0

    def _halo_demote(self) -> None:
        """Serve the next binding with GLOBAL window semantics while
        keeping every created spec resolvable: halo rows go, ``_bucket``
        is pinned to a constant (a one-value partition key ≡ no
        partition key).  Exact by construction; the single-task plan it
        implies lasts until the next operator boundary re-engages."""
        df = self.__df
        if self._halo_active:
            df = df.filter(~F.col("_halo")).drop("_halo")
        df = df.withColumn("_bucket", F.lit(1))
        self.__df = df
        self._halo_active = False
        self._halo_demoted = True
        # re-engaging needs a NEW operator boundary after this demotion —
        # the current operator's remaining bindings stay global
        self._halo_fresh_op = False
        self._back_used = 0
        self._fwd_used = 0

    def _halo_collapse(self) -> None:
        """Terminal cleanup: drop halo rows and every bookkeeping column
        (values on surviving rows are final).  Flushing EWM first demotes
        an active session, so only the demoted shape needs undoing."""
        self._flush_ewm()
        if self._halo_active:
            self.__df = self.__df.filter(~F.col("_halo")).drop(
                "_bucket", "_halo"
            )
        elif self._halo_demoted:
            self.__df = self.__df.drop("_bucket")
        self._halo_active = False
        self._halo_demoted = False
        # live charges stay — they are per OPERATOR (reset only at the
        # validate-hook boundary): a mid-operator re-halo flows into this
        # collapse, and the operator's later bindings may still re-use
        # specs whose depth must keep being charged against the fresh
        # session (the ADVICE r11 spec-reuse bug).
        self._pending_specs = 0

    def _with(self, cols: dict) -> None:
        self._halo_bind_ready()
        self._df = self._df.withColumns(cols)

    def _drop(self, *names: str) -> None:
        self._df = self._df.drop(*names)

    def _ewm(
        self, steps: Sequence[Step], global_op: bool, keep: Sequence[str] | None = None
    ) -> None:
        """Queue an EWM program; consecutive calls FUSE into one pass.

        ``ema().macd().trix()`` costs one applyInPandas exchange, not three
        — the programs concatenate (each is self-contained: it reads only
        frame columns and its own earlier outputs, in order).  A flush is
        forced when the partitioning changes (per-symbol vs global) or a
        step's output name collides with one already pending (an overwrite
        would corrupt the earlier op's kept column)."""
        part = self._partition(global_op)
        # Duplicate outputs WITHIN one call (e.g. sma-style duplicate
        # column lists: ema(["close", "close"], 12)) dedupe to the last
        # step, exactly as the window path's dict comprehension does —
        # otherwise the output schema would carry two identical fields and
        # later references fail with AMBIGUOUS_REFERENCE.
        by_out: dict[str, Step] = {}
        for s in steps:
            by_out[s.out] = s
        steps = list(by_out.values())
        pending_outs = {s.out for s in self._pending}
        if self._pending and (
            part != self._pending_part
            or any(s.out in pending_outs for s in steps)
        ):
            self._flush_ewm()
        self._pending_part = part
        self._pending.extend(steps)
        out_names = [s.out for s in steps]
        keep_names = out_names if keep is None else list(dict.fromkeys(keep))
        self._pending_keep.extend(keep_names)

    def _resolve_and_validate(self, columns) -> list[str]:
        """Resolve a list of names / Column expressions to concrete names
        (reference ``_get_column_names``, indicators.py:65-76) and validate
        they exist (utils.py:4-8)."""
        self._halo_op_boundary()
        if isinstance(columns, str):
            cols = [columns]
        elif isinstance(columns, (list, tuple)):
            if columns and not isinstance(columns[0], str):
                cols = self._probe_df().select(*columns).columns  # schema-only
            else:
                cols = list(columns)
        else:  # a single Column expression / selector
            cols = self._probe_df().select(columns).columns
        validate_columns(cols, self._columns)
        return cols

    def _probe_df(self) -> DataFrame:
        """Name-resolution frame that does NOT flush the pending EWM
        program: the raw frame plus a null stand-in for each pending
        output, so a Column expression referencing a predecessor's
        (still-fused) output resolves without splitting the fusion into an
        extra applyInPandas pass."""
        probe = self.__df.drop(*self._HALO_BOOKKEEPING)
        missing = [n for n in self._pending_keep if n not in probe.columns]
        if missing:
            probe = probe.withColumns(
                {n: F.lit(None).cast("double") for n in missing}
            )
        return probe

    def _validate(self, required: list[str]) -> None:
        self._halo_op_boundary()
        validate_columns(required, self._columns)
