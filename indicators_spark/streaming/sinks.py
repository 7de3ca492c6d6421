"""Exactly-once streaming sinks via ``foreachBatch``.

Structured Streaming delivers ``(batch_df, epoch_id)`` to ``foreachBatch``
at-least-once: after a failure the SAME epoch can be replayed.  Exactly-once
therefore means *idempotent writes keyed by the epoch identity*.  Two
standard shapes:

* :class:`ExactlyOnceParquetSink` — the transactional-directory (commit
  ledger) pattern: each epoch's data lands in its own directory, then the
  epoch id is recorded atomically in a ``_commits/`` ledger.  A replayed
  epoch is detected in the ledger and skipped; a crash between data write
  and ledger write leaves an uncommitted directory that readers (which
  trust only the ledger) never see, and the replay simply overwrites it.
  This is the same commit-protocol idea that table formats implement
  natively (Delta's ``_delta_log``, Iceberg snapshots) — reproduced here
  because no lakehouse jars ship in this environment.
* :func:`upsert_batch` — keyed idempotence: routing each micro-batch
  through ``merge_upsert`` (latest-wins by key+version) makes replays
  no-ops without any ledger, at the cost of rewriting the keyed store.

**Epoch ids are scoped to one query checkpoint.**  A restarted query with
a fresh/lost checkpoint restarts epochs at 0, and a ledger keyed on epoch
alone would then silently skip REAL new data (the Delta ``txn`` problem —
Delta keys its idempotence ledger by ``(appId, version)`` for exactly this
reason).  Both sinks therefore take a ``run_id``: pass a stable identity
for the checkpointed stream (the checkpoint path is the natural choice).
One ledger/pointer namespace exists per ``run_id``; a new ``run_id`` never
skips.  The default (single implicit run) is only safe while one
checkpointed query ever writes to the sink directory — the tests'
bounded-backfill shape.

Scale: the ledger write is a driver-side O(1) rename per epoch; data
writes are fully parallel. Reads list the ledger (tiny) and plan a normal
multi-path parquet scan over committed epochs only, so partition pruning
and pushdown behave exactly as for any static table.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _run_ns(run_id: str | None) -> str:
    """Filesystem-safe namespace for a run identity.

    When sanitization is lossy (the run id contained characters that
    map to ``_``), a short content hash disambiguates: without it the
    distinct run ids ``a/1`` and ``a_1`` would share a namespace and
    the ledger would silently SKIP the second run's real epochs — the
    exact failure the run scoping exists to prevent."""
    if run_id is None:
        return "run-default"
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", run_id)
    if safe == run_id:
        return "run-" + safe
    import hashlib

    return "run-" + safe + "-" + hashlib.md5(run_id.encode()).hexdigest()[:6]


def _legacy_run_ns(run_id: str | None) -> str | None:
    """Pre-md5-suffix namespace of a LOSSY run id, or None when the
    sanitization is lossless (then :func:`_run_ns` already equals the
    legacy form).  One-time ledger-format migration: stores written
    before the suffix existed hold such a run's commit markers under
    the bare sanitized tag; readers must honor those markers when
    deciding committed-ness (else every legacy epoch replays and
    duplicates) while only ever WRITING the suffixed, unambiguous
    form.  The legacy tag is inherently ambiguous (``a/1`` and ``a:1``
    both sanitized to ``a_1``) — that ambiguity is exactly what the
    suffix fixed, and honoring it on read is the documented migration
    cost for UNSTAMPED stores only: :func:`_ledger_format_gate` limits
    the legacy read path to ledgers that already existed without a
    ``_format`` stamp, so on any store created from this version on a
    lossy run can never adopt a DIFFERENT lossless run's markers (e.g.
    ``a/1`` silently skipping ``a_1``'s epochs — the exact collision
    the suffix exists to prevent).  Residual, by construction
    undecidable case: a store created by the suffixed-but-pre-stamp
    version carries suffixed markers and no stamp, so it reads as
    legacy-era — if a LOSSLESS run (``a_1``) wrote there and a distinct
    LOSSY twin (``a/1``) later opens it, the twin still adopts those
    markers (indistinguishable on disk from a genuine pre-suffix
    ``a/1`` store, which must keep working).  Operators who know a
    store has no pre-suffix history can close even that window by
    touching ``_commits/_format`` themselves."""
    if run_id is None:
        return None
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", run_id)
    return None if safe == run_id else "run-" + safe


#: ledger format stamp: "2" = md5-suffixed run namespaces.  Written to
#: a fresh ledger directory at creation; its ABSENCE on a ledger that
#: already holds markers identifies a pre-suffix store (the only place
#: the legacy read path applies).
_LEDGER_FORMAT = "2"


def _ledger_format_gate(ledger_dir: str) -> bool:
    """True iff ``ledger_dir`` is a PRE-SUFFIX ledger whose legacy
    markers must be honored.  A fresh ledger (no markers yet) is
    stamped with the current format instead, permanently disabling the
    legacy path for stores created by current code."""
    fmt = os.path.join(ledger_dir, "_format")
    if os.path.exists(fmt):
        return False
    has_markers = any(
        not c.startswith("_") and not c.endswith(".tmp")
        for c in os.listdir(ledger_dir)
    )
    if has_markers:
        return True  # pre-format store: leave unstamped, honor legacy
    _atomic_write(fmt, _LEDGER_FORMAT)
    return False


def _warn_legacy_active(
    run_id: str | None,
    legacy_ns: str | None,
    ledger_dir: str,
    stacklevel: int = 3,
) -> None:
    """Surface an active legacy read path (ADVICE r9: on an unstamped
    store, two distinct lossy run ids that sanitize identically adopt
    each other's markers, so the second silently skips epochs it never
    wrote — make the collision-prone condition visible at runtime).
    ``stacklevel`` must point the warning at the USER'S construction
    site: 3 for a direct ``__init__`` caller, 4 when an ``__init__``
    delegates through ``_init_ledger`` first (r10 review)."""
    if legacy_ns is None:
        return
    import warnings

    warnings.warn(
        f"run id {run_id!r} sanitizes lossily and this ledger "
        f"({ledger_dir}) predates the _format stamp: legacy markers "
        f"under {legacy_ns!r} will be honored, and any distinct run id "
        "with the same sanitization shares them.  If this store has no "
        "pre-suffix history, write '_commits/_format' to opt out (see "
        "_legacy_run_ns).",
        stacklevel=stacklevel,
    )


def _atomic_write(path: str, body: str) -> None:
    """tmp-file + rename (atomic on POSIX; a conditional PUT / metastore
    transaction on object stores) — the ONE copy of the commit/pointer
    write idiom every sink uses."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(body)
    os.rename(tmp, path)


class _EpochLedger:
    """Commit-ledger mechanics shared by the ingest sinks (substring /
    line / mixture / MinHash): flat ``_commits/`` directory, one
    ``<run_ns>-<epoch>`` marker per committed epoch, atomic tmp+rename
    commit, and committed-epoch directory listing.  One copy of the
    protocol — a ledger fix lands everywhere at once (r8 review: four
    verbatim copies had already accumulated).

    Run-id migration note (applies to every inheriting sink): on a
    store that predates the ``_format`` stamp, a run id that sanitizes
    lossily (e.g. ``a/1`` → ``run-a_1``) honors LEGACY markers under
    the ambiguous bare tag — two distinct lossy ids that sanitize
    identically would adopt each other's committed epochs (a warning
    is emitted whenever this path is active).  If a pre-stamp store is
    known to have no pre-suffix history, write ``_commits/_format``
    (content ``"2"``) to disable the legacy read path entirely — see
    :func:`_legacy_run_ns` / :func:`_ledger_format_gate`."""

    def _init_ledger(self, out_dir: str, run_id: str | None) -> None:
        self.run_ns = _run_ns(run_id)
        self.commit_dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.commit_dir, exist_ok=True)
        # ledger migration: legacy markers honored ONLY on a pre-suffix
        # store (see _ledger_format_gate)
        self._legacy_ns = (
            _legacy_run_ns(run_id)
            if _ledger_format_gate(self.commit_dir)
            else None
        )
        _warn_legacy_active(
            run_id, self._legacy_ns, self.commit_dir, stacklevel=4
        )

    def _commit_path(self, epoch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{self.run_ns}-{epoch_id}")

    def _epoch_tag(self, epoch_id: int) -> str:
        return f"{self.run_ns}-{epoch_id}"

    def _is_committed(self, epoch_id: int) -> bool:
        if os.path.exists(self._commit_path(epoch_id)):
            return True
        return self._legacy_ns is not None and os.path.exists(
            os.path.join(self.commit_dir, f"{self._legacy_ns}-{epoch_id}")
        )

    def _committed(self) -> list[str]:
        # a crash between tmp write and rename leaves '<tag>.tmp' behind;
        # it is NOT a commit; '_format' is the ledger stamp, not a marker
        return sorted(
            c
            for c in os.listdir(self.commit_dir)
            if not c.endswith(".tmp") and not c.startswith("_")
        )

    def _mark_committed(self, epoch_id: int) -> None:
        _atomic_write(self._commit_path(epoch_id), str(epoch_id))

    def _epoch_dirs(self, root: str) -> list[str]:
        """Data directories of every COMMITTED epoch (any run), plus the
        compacted base if :meth:`_compact` has run on this root —
        compaction replaces covered epoch dirs with one pre-aggregated
        dir but never touches the commit MARKERS (replay skipping must
        survive compaction)."""
        covered, compact_dir = self._compact_state(root)
        dirs = [compact_dir] if compact_dir else []
        dirs += [
            os.path.join(root, c)
            for c in self._committed()
            if c not in covered and os.path.isdir(os.path.join(root, c))
        ]
        return dirs

    def _compact_state(self, root: str) -> tuple[set[str], str | None]:
        """(covered epoch tags, compacted dir path) from the pointer."""
        ptr = os.path.join(root, "_compacted")
        if not os.path.exists(ptr):
            return set(), None
        with open(ptr) as f:
            lines = f.read().splitlines()
        return set(lines[1:]), os.path.join(root, lines[0])

    def _compact(self, spark: SparkSession, root: str, merge) -> int:
        """Merge every committed epoch dir under ``root`` (and any prior
        compaction) into ONE pre-aggregated directory via ``merge`` (the
        store's logical combinator: distinct for hash/band sets, a
        count-sum for count cells), then flip an atomic pointer.  At 10k
        ingested epochs the store read goes from a 10k-path union scan
        to one dir — and because ``merge`` pre-aggregates, the store
        also shrinks logically, so every subsequent epoch's probe join
        gets cheaper.  Commit markers are untouched: a replayed covered
        epoch is still skipped by the ledger.

        Retention matches UpsertParquetSink's contract: dirs superseded
        by THIS flip survive one generation for readers that resolved
        store paths just before it — the vacuum at the START of the
        next compaction deletes them (which also sweeps crash leftovers:
        a die between flip and vacuum leaks nothing permanently).
        Returns the number of epoch dirs folded in; a call with nothing
        fresh is a true no-op (after the vacuum sweep).

        Compaction assumes ONE compactor at a time (run it from the
        maintenance job that owns the store, like Delta OPTIMIZE).  The
        merge output is still staged in a process-unique ``.tmp-`` dir
        and renamed into place before the pointer flip, so even a
        violated assumption cannot interleave two compactors' parquet
        writes inside one directory — the losing compactor dies on the
        rename (target exists) with the store pointer untouched; what
        stays unprotected under concurrency is only the shared vacuum
        sweep below (it may delete the other compactor's in-flight
        staging dir, aborting that run harmlessly)."""
        import shutil

        covered, prev_dir = self._compact_state(root)
        cur_name = os.path.basename(prev_dir) if prev_dir else None
        # vacuum generation N-1: stale compact dirs (any compact-* that
        # is not the current pointer target) and covered epoch dirs
        # still on disk — both unreadable via _epoch_dirs since the
        # previous flip, retained exactly one generation
        for d in os.listdir(root):
            p = os.path.join(root, d)
            if not os.path.isdir(p):
                continue
            if d.startswith("compact-") and d != cur_name:
                shutil.rmtree(p, ignore_errors=True)
            elif d in covered:
                shutil.rmtree(p, ignore_errors=True)
        fresh = [
            c
            for c in self._committed()
            if c not in covered and os.path.isdir(os.path.join(root, c))
        ]
        if not fresh:
            # nothing new: do NOT rewrite the whole store per call
            return 0
        paths = ([prev_dir] if prev_dir else []) + [
            os.path.join(root, c) for c in fresh
        ]
        seq = 1
        if prev_dir:
            seq = int(os.path.basename(prev_dir).split("-")[1]) + 1
        out = os.path.join(root, f"compact-{seq}")
        # stage + rename: never write parquet straight into the final
        # name (see the docstring's concurrency note); uuid4 keeps two
        # same-pid compactors (threads) apart too
        import uuid

        staging = f"{out}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        merge(spark.read.parquet(*paths)).write.mode("overwrite").parquet(
            staging
        )
        os.rename(staging, out)
        _atomic_write(
            os.path.join(root, "_compacted"),
            "\n".join([f"compact-{seq}", *sorted(covered | set(fresh))]),
        )
        return len(fresh)


class ExactlyOnceParquetSink:
    """Idempotent ``foreachBatch`` target: parquet-per-epoch + commit ledger.

    Usage::

        sink = ExactlyOnceParquetSink("/data/out", run_id=checkpoint_dir)
        stream.writeStream.foreachBatch(sink).start()
        ...
        committed = sink.read(spark)   # sees only committed epochs

    ``run_id`` scopes the commit ledger to one query checkpoint (see the
    module docstring); epochs of different runs commit side by side and
    ``read`` sees the union.
    """

    def __init__(self, out_dir: str, run_id: str | None = None) -> None:
        self.out_dir = out_dir
        self.run_ns = _run_ns(run_id)
        self.data_dir = os.path.join(out_dir, "data")
        ledger_root = os.path.join(out_dir, "_commits")
        self.commit_dir = os.path.join(ledger_root, self.run_ns)
        os.makedirs(ledger_root, exist_ok=True)
        # ledger migration: legacy markers honored ONLY on a pre-suffix
        # store.  The gate checks the ledger ROOT (ns subdirs are the
        # markers here) and must run BEFORE this run's subdir is
        # created, or a fresh store would read as pre-suffix.
        self._legacy_ns = (
            _legacy_run_ns(run_id)
            if _ledger_format_gate(ledger_root)
            else None
        )
        _warn_legacy_active(run_id, self._legacy_ns, ledger_root)
        os.makedirs(self.commit_dir, exist_ok=True)

    def _commit_path(self, epoch_id: int) -> str:
        return os.path.join(self.commit_dir, str(epoch_id))

    def _legacy_dir(self) -> str | None:
        if self._legacy_ns is None:
            return None
        d = os.path.join(self.out_dir, "_commits", self._legacy_ns)
        return d if os.path.isdir(d) else None

    def _is_committed(self, epoch_id: int) -> bool:
        if os.path.exists(self._commit_path(epoch_id)):
            return True
        # pre-suffix markers of a lossy run id (see _legacy_run_ns):
        # honor on read, never write
        legacy = self._legacy_dir()
        return legacy is not None and os.path.exists(
            os.path.join(legacy, str(epoch_id))
        )

    def committed_epochs(self) -> list[int]:
        """Committed epoch ids of THIS run — the same view __call__'s
        skip uses, so a pre-suffix store's legacy-committed epochs are
        included (they will never be re-written)."""
        ids = {int(f) for f in os.listdir(self.commit_dir) if f.isdigit()}
        legacy = self._legacy_dir()
        if legacy is not None:
            ids |= {int(f) for f in os.listdir(legacy) if f.isdigit()}
        return sorted(ids)

    def _committed_paths(self) -> list[str]:
        ledger_root = os.path.join(self.out_dir, "_commits")
        paths = []
        for ns in sorted(os.listdir(ledger_root)):
            ns_dir = os.path.join(ledger_root, ns)
            if not os.path.isdir(ns_dir):
                continue
            for f in sorted(os.listdir(ns_dir), key=lambda s: (len(s), s)):
                if f.isdigit():
                    paths.append(
                        os.path.join(self.data_dir, ns, f"epoch={f}")
                    )
        return paths

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._is_committed(epoch_id):
            return  # replayed epoch: already committed, exactly-once skip
        if batch_df.isEmpty():
            # nothing to write; committing would create a footer-less
            # directory that breaks schema inference on read
            return
        path = os.path.join(self.data_dir, self.run_ns, f"epoch={epoch_id}")
        # overwrite: a half-written directory from a pre-commit crash is
        # harmless (not in the ledger) and replaced wholesale on replay
        batch_df.write.mode("overwrite").parquet(path)
        _atomic_write(self._commit_path(epoch_id), str(epoch_id))

    def read(self, spark: SparkSession) -> DataFrame:
        """Read ONLY committed epochs (ledger-trusting reader), across
        every run that has written to this sink directory."""
        paths = self._committed_paths()
        if not paths:
            raise ValueError("no committed epochs yet")
        return spark.read.parquet(*paths)


class UpsertParquetSink:
    """``foreachBatch`` target that MERGEs each micro-batch into a keyed
    parquet store via latest-wins ``merge_upsert``.

    Copy-on-write with an atomic pointer swap: each epoch reads the current
    version directory, merges the batch distributed (one shuffle on the
    key), writes a NEW version directory, then flips a ``_latest`` pointer
    file by atomic rename — never a driver-side collect, never overwriting
    a directory being read.  Idempotent under epoch replay twice over: a
    replayed epoch of the SAME run is skipped by the pointer (which records
    ``run_id`` + epoch), and even a re-merge of the same rows is a no-op
    because latest-wins by (key, order_col) is idempotent.  A NEW run
    (fresh checkpoint, epochs restarting at 0) is never skipped — its first
    epoch merges into the existing store.  This is exactly Delta/Iceberg's
    MERGE commit protocol (including the ``txn``-style run scoping) minus
    the manifest format.

    **Merge keys must be non-null.**  ``merge_upsert`` follows MERGE
    semantics — ``ON t.key = u.key`` matches no NULL, so NULL-key rows
    pass through unchanged from BOTH sides on every merge.  For a keyed
    store that means a replayed epoch under a *fresh checkpoint* (new
    ``run_id``, pointer can't skip it) would append another copy of every
    NULL-key row per replay — the passthrough and the replay-idempotence
    contract are mutually exclusive.  The sink therefore REJECTS batches
    containing NULL keys; filter or fill them upstream.
    """

    def __init__(
        self, store_dir: str, key: str, order_col: str,
        run_id: str | None = None,
    ) -> None:
        self.store_dir = store_dir
        self.key = key
        self.order_col = order_col
        self.run_ns = _run_ns(run_id)
        os.makedirs(store_dir, exist_ok=True)
        self._pointer = os.path.join(store_dir, "_latest")
        self._seq = 0  # monotone version counter within this process

    def _current(self) -> tuple[str, str, int] | None:
        """(version_dir, run_ns, epoch) from the pointer, or None."""
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as f:
            body = f.read().strip()
        version, run_ns, epoch = body.split("\n")
        return version, run_ns, int(epoch)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..functions.merge import merge_upsert

        cur = self._current()
        if cur is not None and cur[1] == self.run_ns and cur[2] >= epoch_id:
            return  # replayed epoch of this run: exactly-once skip
        if batch_df.isEmpty():
            return  # empty trigger: skip the full copy-on-write pass
        if not batch_df.filter(F.col(self.key).isNull()).isEmpty():
            raise ValueError(
                f"UpsertParquetSink: NULL {self.key!r} values in epoch "
                f"{epoch_id} — MERGE semantics pass NULL-key rows through "
                "unchanged on every merge, so a replayed epoch under a "
                "fresh checkpoint would append duplicates; keyed stores "
                "require non-null merge keys (filter or fill upstream)"
            )
        spark = batch_df.sparkSession
        if cur is None:
            # epoch 0 seeds through the SAME merge (latest-wins incl. the
            # deterministic whole-row tie-break) against an empty target —
            # one dedup semantics from the first epoch on
            target = spark.createDataFrame([], batch_df.schema)
        else:
            target = spark.read.parquet(os.path.join(self.store_dir, cur[0]))
        merged = merge_upsert(target, batch_df, self.key, self.order_col)
        self._seq = (cur and int(cur[0].split("-")[1]) or self._seq) + 1
        version = f"v-{self._seq}-{self.run_ns}-{epoch_id}"
        merged.write.mode("overwrite").parquet(
            os.path.join(self.store_dir, version)
        )
        _atomic_write(self._pointer, f"{version}\n{self.run_ns}\n{epoch_id}")
        # Vacuum: superseded versions are dead after the pointer flip;
        # retain ONE prior version for readers that resolved the pointer
        # just before the flip, delete anything older (without this the
        # copy-on-write store grows by a full copy per epoch).
        import shutil

        keep = {version} | ({cur[0]} if cur is not None else set())
        for d in os.listdir(self.store_dir):
            if d.startswith("v-") and d not in keep:
                shutil.rmtree(os.path.join(self.store_dir, d), ignore_errors=True)

    def read(self, spark: SparkSession) -> DataFrame:
        cur = self._current()
        if cur is None:
            raise ValueError("store is empty")
        return spark.read.parquet(os.path.join(self.store_dir, cur[0]))


class SubstringDedupIngestSink(_EpochLedger):
    """``foreachBatch`` target running the full incremental ExactSubstr
    policy per micro-batch — the streaming twin of
    ``dedup.substring_dedup_against_corpus`` composed with the keep-first
    cut (``dedup.substring_dedup_incremental_policy`` + ``cut_spans``):

    1. spans of the batch vs the historical gram STORE (passages any
       earlier epoch already ingested) ∪ batch-internal keep-first,
    2. documents rewritten with those spans cut
       (``clean_text``/``n_removed``), landed exactly-once per epoch
       (same data-dir + commit-ledger protocol as
       :class:`ExactlyOnceParquetSink`; for lossy run ids on pre-stamp
       stores see :class:`_EpochLedger`'s migration note and the
       ``_commits/_format`` opt-out),
    3. the batch's distinct gram hashes appended to the store under the
       SAME epoch identity — a replayed epoch overwrites its own gram
       directory (idempotent) and is skipped entirely by the ledger.

    One copy of every repeated ≥ n-word passage therefore survives
    across the whole ingest history.  Readers of the store see only
    committed epochs (the cleaned-doc ledger gates both: grams are
    written BEFORE the commit mark, so an epoch's grams become visible
    exactly when its cleaned docs do).

    Scale notes: the store carries bare 8-byte hashes (distinct'd per
    epoch); the per-epoch cost is O(batch positions) grams semi-joined
    against the store scan — with the store bucketed on ``gh`` the
    history side is exchange-free, the same layout story as the
    fingerprint table in ``dedup_against_corpus``.
    """

    def __init__(
        self, out_dir: str, n: int = 10, run_id: str | None = None
    ) -> None:
        self.n = n
        self._init_ledger(out_dir, run_id)
        self.data_dir = os.path.join(out_dir, "clean")
        self.gram_dir = os.path.join(out_dir, "grams")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.gram_dir, exist_ok=True)

    def _store_paths(self) -> list[str]:
        """Gram directories of every COMMITTED epoch (any run)."""
        return self._epoch_dirs(self.gram_dir)

    def compact_store(self, spark: SparkSession) -> int:
        """Fold the per-epoch gram dirs into one distinct'd base
        (:meth:`_EpochLedger._compact`): gram hashes are a SET, so the
        combinator is ``distinct`` — the store shrinks by exactly the
        cross-epoch overlap and later probes join one dir."""
        return self._compact(spark, self.gram_dir, lambda df: df.distinct())

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..functions.dedup import (
            batch_gram_hashes,
            cut_spans,
            substring_dedup_incremental_policy,
        )

        if self._is_committed(epoch_id):
            return  # replayed epoch: exactly-once skip
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        store_paths = self._store_paths()
        store = spark.read.parquet(*store_paths) if store_paths else None
        spans = substring_dedup_incremental_policy(batch_df, store, self.n)
        cleaned = cut_spans(batch_df, spans)
        epoch_tag = self._epoch_tag(epoch_id)
        cleaned.write.mode("overwrite").parquet(
            os.path.join(self.data_dir, epoch_tag)
        )
        # grams land BEFORE the commit mark: a crash in between leaves an
        # uncommitted gram dir that readers (ledger-trusting) never see
        # and the replay overwrites wholesale
        batch_gram_hashes(batch_df, self.n).write.mode("overwrite").parquet(
            os.path.join(self.gram_dir, epoch_tag)
        )
        self._mark_committed(epoch_id)

    def read_clean(self, spark: SparkSession) -> DataFrame:
        """Cleaned documents of every committed epoch."""
        paths = self._epoch_dirs(self.data_dir)
        if not paths:
            raise ValueError("no committed epochs yet")
        return spark.read.parquet(*paths)


class MixturePlanSink(_EpochLedger):
    """``foreachBatch`` target EXECUTING a water-fill mixture plan on an
    arriving corpus — the streaming twin of the ``mixture_plan_execute``
    batch query (queries/pipeline.py): per-source sample rates become hash
    thresholds on the 1/HASH_DEN grid, each micro-batch is filtered by
    the row-local deterministic ``hash_bucket(id) < thresh`` rule,
    sampled documents land exactly-once per epoch, and a per-epoch
    accounting table keeps the achieved-vs-planned audit running across
    the whole ingest history.

    The plan is FROZEN at sink construction (rates from
    ``token_budget_waterfill`` on a prior corpus snapshot or supply
    ledger — K driver floats, the same budget as the batch query's
    collect).  Because membership is a pure function of the document id
    — not of epoch boundaries, arrival order, or partitioning — the
    union of per-epoch samples is IDENTICAL to running the batch filter
    over the concatenated corpus: stream/batch parity holds by
    construction and is pinned in tests/test_streaming.py.

    Documents from sources absent from the plan are NOT sampled (their
    planned rate is 0 — the water-filler saw no supply for them) but are
    counted in the accounting's ``total_docs`` so the audit surfaces
    them instead of silently ignoring them.  NULL-text documents are
    excluded before sampling by default (``drop_null_text=True``) —
    the identical upstream filter the batch ``mixture_plan_execute``
    query applies, so the parity claim above holds on dirty corpora
    too (run-id migration / ``_commits/_format`` opt-out: see
    :class:`_EpochLedger`); pass ``False`` only when the plan was built over a corpus that
    kept them.

    Scale notes: the rate table is K rows broadcast onto the batch; the
    filter is row-local (pushes to the scan); accounting is one K-row
    groupBy per epoch.  Nothing in the sink holds per-document state —
    the ledger stores K rows per epoch, whatever the corpus size.
    """

    def __init__(
        self,
        out_dir: str,
        rates: dict[str, float],
        id_col: str = "doc_id",
        source_col: str = "source",
        text_col: str = "text",
        seed: str = "mixexec",
        drop_null_text: bool = True,
        run_id: str | None = None,
    ) -> None:
        from ..functions.sampling import HASH_DEN

        self.id_col = id_col
        self.source_col = source_col
        self.text_col = text_col
        self.seed = seed
        self.drop_null_text = drop_null_text
        # quantize to the hash grid exactly as the batch query does, so
        # planned and achievable rates agree and replay cross-engine
        self.thresholds = {
            src: int(round(float(rate) * HASH_DEN))
            for src, rate in rates.items()
        }
        self._init_ledger(out_dir, run_id)
        self.data_dir = os.path.join(out_dir, "sampled")
        self.acct_dir = os.path.join(out_dir, "accounting")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.acct_dir, exist_ok=True)

    def _rate_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            sorted(self.thresholds.items()),
            f"`{self.source_col}` string, _thresh long",
        )

    def sample(self, df: DataFrame) -> DataFrame:
        """The pure sampling rule (shared by every epoch AND usable on a
        batch frame directly — this is what makes parity testable)."""
        from ..functions.sampling import hash_bucket

        spark = df.sparkSession
        if self.drop_null_text:
            df = df.filter(F.col(self.text_col).isNotNull())
        return df.join(
            F.broadcast(self._rate_df(spark)), self.source_col
        ).filter(
            hash_bucket(F.col(self.id_col), self.seed) < F.col("_thresh")
        ).drop("_thresh")

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._is_committed(epoch_id):
            return  # replayed epoch: exactly-once skip
        if batch_df.isEmpty():
            return
        epoch_tag = self._epoch_tag(epoch_id)
        sampled = self.sample(batch_df)
        sampled.write.mode("overwrite").parquet(
            os.path.join(self.data_dir, epoch_tag)
        )
        # accounting: totals come from the plan-UNFILTERED (but, when
        # drop_null_text=True, null-text-filtered — see the class
        # docstring) batch, so unplanned sources and never-sampled
        # sources still show up; sampled counts re-read the just-written
        # parquet — never recomputing the filter, so the ledger
        # describes exactly the rows on disk
        spark = batch_df.sparkSession
        toks = F.when(
            F.col(self.text_col).isNull(), F.lit(0)
        ).otherwise(F.size(F.split(F.col(self.text_col), " ")))
        acct_base = (
            batch_df.filter(F.col(self.text_col).isNotNull())
            if self.drop_null_text
            else batch_df
        )
        base = acct_base.groupBy(
            F.col(self.source_col).alias("source")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("total_docs"),
            F.sum(toks).cast("long").alias("total_tokens"),
        )
        per = (
            spark.read.parquet(os.path.join(self.data_dir, epoch_tag))
            .groupBy(F.col(self.source_col).alias("source"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("sampled_docs"),
                F.sum(toks).cast("long").alias("sampled_tokens"),
            )
        )
        acct = (
            base.join(per, "source", "left")
            .select(
                F.lit(epoch_id).cast("long").alias("epoch"),
                "source",
                "total_docs",
                "total_tokens",
                F.coalesce(F.col("sampled_docs"), F.lit(0))
                .cast("long")
                .alias("sampled_docs"),
                F.coalesce(F.col("sampled_tokens"), F.lit(0))
                .cast("long")
                .alias("sampled_tokens"),
            )
        )
        acct.write.mode("overwrite").parquet(
            os.path.join(self.acct_dir, epoch_tag)
        )
        self._mark_committed(epoch_id)

    def _epoch_paths(self, root: str) -> list[str]:
        paths = self._epoch_dirs(root)
        if not paths:
            raise ValueError("no committed epochs yet")
        return paths

    def read_sampled(self, spark: SparkSession) -> DataFrame:
        """Sampled documents of every committed epoch."""
        return spark.read.parquet(*self._epoch_paths(self.data_dir))

    def read_accounting(self, spark: SparkSession) -> DataFrame:
        """Per-epoch (source, totals, sampled) accounting rows."""
        return spark.read.parquet(*self._epoch_paths(self.acct_dir))

    def achieved_vs_planned(self, spark: SparkSession) -> DataFrame:
        """The running audit: per source, cumulative sampled/total doc
        counts across all committed epochs, the achieved rate, and the
        planned rate — the streaming continuation of the batch query's
        achieved-vs-planned columns."""
        from ..functions.sampling import HASH_DEN

        planned = spark.createDataFrame(
            sorted(self.thresholds.items()), "source string, _thresh long"
        )
        cum = self.read_accounting(spark).groupBy("source").agg(
            F.sum("total_docs").cast("long").alias("total_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
            F.sum("sampled_docs").cast("long").alias("sampled_docs"),
            F.sum("sampled_tokens").cast("long").alias("sampled_tokens"),
        )
        q4 = lambda c: F.floor(c * 1e4 + F.lit(0.500000001)) / 1e4  # noqa: E731
        return cum.join(planned, "source", "left").select(
            "source",
            "total_docs",
            "total_tokens",
            "sampled_docs",
            "sampled_tokens",
            q4(
                F.coalesce(F.col("_thresh"), F.lit(0)).cast("double")
                / F.lit(float(HASH_DEN))
            ).alias("planned_rate"),
            q4(
                F.col("sampled_docs").cast("double")
                / F.col("total_docs").cast("double")
            ).alias("achieved_rate"),
            # the plan IS a token budget: the share of each source's
            # tokens that landed is the number the water-filler promised
            q4(
                F.col("sampled_tokens").cast("double")
                / F.nullif(F.col("total_tokens").cast("double"), F.lit(0.0))
            ).alias("achieved_token_rate"),
        )


class MinHashDedupIngestSink(_EpochLedger):
    """``foreachBatch`` target running incremental NEAR-dup dedup per
    micro-batch — the streaming twin of
    ``dedup.minhash_dedup_against_corpus``, completing the ingest-sink
    family (exact-substring, line, mixture, and now MinHash near-dup all
    share the commit-ledger protocol):

    1. each batch document is flagged when ≥ ``min_bands`` of its LSH
       bands collide with the historical band-key STORE (every earlier
       committed epoch's :func:`~..functions.dedup.batch_band_keys`
       rows) or with a LOWER-id batch sibling (earlier-wins, no
       chaining — near-dup is not transitive, so chained keep-first
       would be partition-order dependent),
    2. the flagged batch (every row, with ``n_store_bands`` /
       ``dup_in_batch`` / ``keep``) lands exactly-once per epoch,
    3. the batch's band keys are appended to the store under the SAME
       epoch identity — a replayed epoch overwrites its own band
       directory (idempotent) and is skipped entirely by the ledger.

    History is append-only: landed epochs are never re-flagged when a
    later near-duplicate arrives (the same contract as the other
    ingest sinks).  Scale notes: the store holds skinny (id, band,
    2-hash key) rows — no text, no full signatures; the per-epoch cost
    is one shingle pass over the batch plus a (band, key) join against
    the store scan (bucket the store on the key to make the history
    side exchange-free).  Run-id migration / ``_commits/_format``
    opt-out: see :class:`_EpochLedger`."""

    def __init__(
        self,
        out_dir: str,
        bands: int = 4,
        min_bands: int = 1,
        run_id: str | None = None,
    ) -> None:
        from ..functions.dedup import MINHASH_COEFFS

        # fail at CONFIGURATION time, not inside the running stream:
        # min_bands > bands would make keep always-true (a silent no-op
        # deduper), and a bands value not dividing the signature length
        # would only raise at the first non-empty micro-batch
        if len(MINHASH_COEFFS) % bands:
            raise ValueError(
                f"bands={bands} must divide the signature length "
                f"{len(MINHASH_COEFFS)}"
            )
        if not 1 <= min_bands <= bands:
            raise ValueError(
                f"min_bands={min_bands} must be in [1, bands={bands}] — "
                "above bands no document can ever be flagged"
            )
        self.bands = bands
        self.min_bands = min_bands
        self._init_ledger(out_dir, run_id)
        self.data_dir = os.path.join(out_dir, "flagged")
        self.band_dir = os.path.join(out_dir, "band_keys")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.band_dir, exist_ok=True)
        # the store's key-struct WIDTH is a function of bands: a second
        # sink on the same directory with different bands would union
        # incompatible schemas and mis-decode every earlier epoch — pin
        # the store's bands in a marker and refuse a mismatch
        meta = os.path.join(self.band_dir, "_meta")
        if os.path.exists(meta):
            with open(meta) as f:
                stored = int(f.read().strip())
            if stored != bands:
                raise ValueError(
                    f"band-key store at {self.band_dir} was written with "
                    f"bands={stored}; refusing to mix bands={bands} "
                    "(incompatible key-struct schemas)"
                )
        else:
            with open(meta, "w") as f:
                f.write(str(bands))

    def _store_paths(self) -> list[str]:
        """Band-key directories of every COMMITTED epoch (any run)."""
        return self._epoch_dirs(self.band_dir)

    def compact_store(self, spark: SparkSession) -> int:
        """Fold the per-epoch band-key dirs into one distinct'd base
        (:meth:`_EpochLedger._compact`) — band rows are a set."""
        return self._compact(spark, self.band_dir, lambda df: df.distinct())

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..functions.dedup import (
            batch_band_keys,
            minhash_dedup_against_corpus,
        )

        if self._is_committed(epoch_id):
            return  # replayed epoch: exactly-once skip
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        epoch_tag = self._epoch_tag(epoch_id)
        band_path = os.path.join(self.band_dir, epoch_tag)
        # band keys are written FIRST and the read-back rows feed the
        # probe (batch_bands=...), so the shingle+minhash pass runs ONCE
        # per epoch; the ledger still gates visibility — an uncommitted
        # band dir is invisible to _store_paths and a replay overwrites
        # it wholesale
        batch_band_keys(batch_df, bands=self.bands).write.mode(
            "overwrite"
        ).parquet(band_path)
        store_paths = self._store_paths()
        store = spark.read.parquet(*store_paths) if store_paths else None
        flagged = minhash_dedup_against_corpus(
            batch_df,
            store,
            bands=self.bands,
            min_bands=self.min_bands,
            batch_bands=spark.read.parquet(band_path),
        )
        flagged.write.mode("overwrite").parquet(
            os.path.join(self.data_dir, epoch_tag)
        )
        self._mark_committed(epoch_id)

    def read_flagged(self, spark: SparkSession) -> DataFrame:
        """Flagged documents of every committed epoch."""
        paths = self._epoch_dirs(self.data_dir)
        if not paths:
            raise ValueError("no committed epochs yet")
        return spark.read.parquet(*paths)


class LineDedupIngestSink(_EpochLedger):
    """``foreachBatch`` target running incremental corpus-wide LINE dedup
    per micro-batch — the streaming twin of
    ``dedup.line_dedup_incremental`` (the CCNet/RefinedWeb boilerplate
    pass as an ingest policy):

    1. the batch's lines are counted and merged with the historical
       count STORE; any line whose combined occurrence count reaches
       ``min_df`` is removed from every batch document,
    2. cleaned documents land exactly-once per epoch (same data-dir +
       commit-ledger protocol as :class:`ExactlyOnceParquetSink`),
    3. the batch's per-line-hash counts are appended to the store under
       the same epoch identity — a replayed epoch overwrites its own
       count directory (idempotent) and is skipped by the ledger.

    History is append-only: already-landed copies of a line that only
    later turns out to repeat are NOT rewritten (the same contract as
    :class:`SubstringDedupIngestSink`); every future occurrence is
    removed once the count crosses ``min_df``.

    Scale notes: the store carries pre-aggregated (16-byte hash, count)
    cells — per-epoch size is the batch's DISTINCT line count, and
    merging history is one count-keyed groupBy over cells, never
    history rows.  Bucket the store on ``lh`` to make the history side
    exchange-free, as with the gram store.  Run-id migration /
    ``_commits/_format`` opt-out: see :class:`_EpochLedger`."""

    def __init__(
        self, out_dir: str, min_df: int = 2, run_id: str | None = None
    ) -> None:
        self.min_df = min_df
        self._init_ledger(out_dir, run_id)
        self.data_dir = os.path.join(out_dir, "clean")
        self.count_dir = os.path.join(out_dir, "line_counts")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.count_dir, exist_ok=True)

    def _store_paths(self) -> list[str]:
        """Count directories of every COMMITTED epoch (any run)."""
        return self._epoch_dirs(self.count_dir)

    def compact_store(self, spark: SparkSession) -> int:
        """Fold the per-epoch count dirs into one re-summed base
        (:meth:`_EpochLedger._compact`): count cells add cell-wise, so
        the combinator is a ``lh``-keyed sum — one row per distinct line
        ever seen, whatever the epoch count."""
        return self._compact(
            spark,
            self.count_dir,
            lambda df: df.groupBy("lh").agg(
                F.sum("c").cast("long").alias("c")
            ),
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..functions.dedup import batch_line_counts, line_dedup_incremental

        if self._is_committed(epoch_id):
            return  # replayed epoch: exactly-once skip
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        store_paths = self._store_paths()
        store = spark.read.parquet(*store_paths) if store_paths else None
        cleaned = line_dedup_incremental(
            batch_df, store, min_df=self.min_df
        )
        epoch_tag = self._epoch_tag(epoch_id)
        cleaned.write.mode("overwrite").parquet(
            os.path.join(self.data_dir, epoch_tag)
        )
        # counts land BEFORE the commit mark (see SubstringDedupIngestSink)
        batch_line_counts(batch_df).write.mode("overwrite").parquet(
            os.path.join(self.count_dir, epoch_tag)
        )
        self._mark_committed(epoch_id)

    def read_clean(self, spark: SparkSession) -> DataFrame:
        """Cleaned documents of every committed epoch."""
        paths = self._epoch_dirs(self.data_dir)
        if not paths:
            raise ValueError("no committed epochs yet")
        return spark.read.parquet(*paths)


class DriftMonitorSink(_EpochLedger):
    """``foreachBatch`` target for continuous distribution monitoring:
    every micro-batch is scored per source against a FROZEN reference
    profile (PSI over the reference's quantile bands —
    ``drift.psi_reference_profile`` / ``psi_vs_reference_by_group``),
    and the per-epoch verdict rows ``(epoch, group, n, psi, drifted)``
    land exactly-once under the commit-ledger protocol.  This is the
    nightly-drift-alarm pattern as an ingest-time policy: the profile
    is captured ONCE at sink construction (2·bins − 1 driver scalars),
    so scores are comparable across every epoch and run — a moving
    pool would mask slow drift.

    The monitor store is append-only facts; replayed epochs are
    skipped by the ledger (idempotent), and :meth:`compact_store`
    folds the per-epoch dirs into one (identity merge — verdict rows
    are already atoms).  Run-id migration / ``_commits/_format``
    opt-out: see :class:`_EpochLedger`.

    Scale: the per-batch cost is one (group, bin) cell aggregate over
    the batch; the reference never leaves the driver, and the store
    grows by ≤ groups rows per epoch.
    """

    def __init__(
        self,
        out_dir: str,
        ref: DataFrame,
        value_col: str,
        group_col: str,
        bins: int = 10,
        drift_threshold: float | None = None,
        run_id: str | None = None,
    ) -> None:
        from ..functions.drift import (
            PSI_DRIFT_THRESHOLD,
            psi_reference_profile,
        )

        self.value_col = value_col
        self.group_col = group_col
        self.threshold = (
            PSI_DRIFT_THRESHOLD if drift_threshold is None else drift_threshold
        )
        self.edges, self.ref_counts = psi_reference_profile(
            ref, value_col, bins
        )
        self._init_ledger(out_dir, run_id)
        self.monitor_dir = os.path.join(out_dir, "monitor")
        os.makedirs(self.monitor_dir, exist_ok=True)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..functions.drift import psi_vs_reference_by_group

        if self._is_committed(epoch_id):
            return  # replayed epoch: exactly-once skip
        if batch_df.isEmpty():
            return
        rows = psi_vs_reference_by_group(
            batch_df,
            self.value_col,
            self.group_col,
            self.edges,
            self.ref_counts,
            drift_threshold=self.threshold,
        ).withColumn("epoch", F.lit(int(epoch_id)).cast("long"))
        rows.write.mode("overwrite").parquet(
            os.path.join(self.monitor_dir, self._epoch_tag(epoch_id))
        )
        self._mark_committed(epoch_id)

    def compact_store(self, spark: SparkSession) -> int:
        """Fold per-epoch verdict dirs into one (identity merge —
        verdict rows are append-only facts, nothing to re-aggregate)."""
        return self._compact(spark, self.monitor_dir, lambda df: df)

    def read_monitor(self, spark: SparkSession) -> DataFrame:
        """Verdict rows of every committed epoch (any run)."""
        paths = self._epoch_dirs(self.monitor_dir)
        if not paths:
            raise ValueError("no committed epochs yet")
        return spark.read.parquet(*paths)


class IvfIndexIngestSink(_EpochLedger):
    """``foreachBatch`` target maintaining an IVF ANN index incrementally
    — the streaming complement of ``similarity.knn_ivf``: every
    micro-batch's embeddings are assigned to their nearest FROZEN
    coarse-quantizer cell via ``similarity.ivf_assign_cells`` (the SAME
    fold-exact literal-centroid expression the batch operator plans, so
    stream and batch assignments are bit-identical) and the skinny index
    rows ``(id, cid, norm, epoch)`` land exactly-once per epoch under
    the commit-ledger protocol.

    Embeddings themselves stay in the lake: the index is the id→cell
    map plus the norm the exact cosine re-rank needs, so the store grows
    by O(batch) ~24-byte rows per epoch and a search
    (:func:`~..functions.similarity.knn_ivf_from_index`) reads only the
    probed cells' ids before joining vectors back by id.

    Centroids are captured ONCE at sink construction (k × dim driver
    floats — the coarse-quantizer budget every IVF index pays, the
    ``DriftMonitorSink`` frozen-profile contract): a moving quantizer
    would scatter one semantic neighborhood across cells and silently
    degrade recall between rebuilds.  Re-centering = build a new index
    directory from compacted history.  A centroid digest is pinned in
    the store (``_meta``) and a second sink with different centroids on
    the same directory is REFUSED — mixed-quantizer cells would
    mis-route every probe (the MinHash bands-pin precedent).

    Id semantics: duplicate ids WITHIN one batch raise (an index row
    must be a function of the id; which duplicate wins would be
    partition-order dependent); an id re-ingested in a later epoch
    keeps its FIRST committed row (earlier-wins, enforced by
    ``read_index``'s min-epoch reduction and preserved by
    ``compact_store`` — the upsert shape belongs to ``UpsertSink``).
    Run-id migration / ``_commits/_format`` opt-out: see
    :class:`_EpochLedger`."""

    def __init__(
        self,
        out_dir: str,
        centroids: list,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        run_id: str | None = None,
    ) -> None:
        import hashlib

        if not centroids:
            raise ValueError("IvfIndexIngestSink: empty centroid table")
        cents = [(int(c), [float(x) for x in v]) for c, v in centroids]
        dims = {len(v) for _, v in cents}
        if len(dims) != 1:
            raise ValueError(
                f"IvfIndexIngestSink: ragged centroid dims {sorted(dims)}"
            )
        cids = [c for c, _ in cents]
        if len(set(cids)) != len(cids):
            raise ValueError("IvfIndexIngestSink: duplicate centroid ids")
        self.cents = cents
        self.id_col = id_col
        self.vec_col = vec_col
        self._init_ledger(out_dir, run_id)
        self.index_dir = os.path.join(out_dir, "index")
        os.makedirs(self.index_dir, exist_ok=True)
        digest = hashlib.sha256(repr(cents).encode()).hexdigest()[:16]
        meta = os.path.join(self.index_dir, "_meta")
        if os.path.exists(meta):
            with open(meta) as f:
                stored = f.read().strip()
            if stored != digest:
                raise ValueError(
                    f"IVF index store at {self.index_dir} was built with a "
                    f"different coarse quantizer ({stored}); refusing "
                    f"centroids {digest} — mixed-quantizer cells would "
                    "mis-route every probe"
                )
        else:
            with open(meta, "w") as f:
                f.write(digest)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..functions.similarity import ivf_assign_cells

        if self._is_committed(epoch_id):
            return  # replayed epoch: exactly-once skip
        if batch_df.isEmpty():
            return
        assigned = ivf_assign_cells(
            batch_df, self.cents, id_col=self.id_col, vec_col=self.vec_col
        ).select(
            F.col("nid").alias(self.id_col),
            F.col("cid"),
            F.col("nn").alias("norm"),
            F.lit(int(epoch_id)).cast("long").alias("epoch"),
        )
        # duplicate ids within one batch would make the landed row
        # partition-order dependent — fail the epoch loudly instead
        dup = (
            assigned.groupBy(self.id_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"IvfIndexIngestSink: duplicate {self.id_col}="
                f"{dup[0][self.id_col]!r} within epoch {epoch_id}"
            )
        assigned.write.mode("overwrite").parquet(
            os.path.join(self.index_dir, self._epoch_tag(epoch_id))
        )
        self._mark_committed(epoch_id)

    def _first_wins(self, df: DataFrame) -> DataFrame:
        """Min-epoch row per id (earlier-wins; deterministic — ids are
        unique within an epoch by the ingest guard)."""
        return (
            df.groupBy(self.id_col)
            .agg(
                F.min_by(F.struct("cid", "norm"), "epoch").alias("_s"),
                F.min("epoch").cast("long").alias("epoch"),
            )
            .select(
                self.id_col,
                F.col("_s.cid").alias("cid"),
                F.col("_s.norm").alias("norm"),
                "epoch",
            )
        )

    def compact_store(self, spark: SparkSession) -> int:
        """Fold per-epoch index dirs into one earlier-wins base
        (:meth:`_EpochLedger._compact`)."""
        return self._compact(spark, self.index_dir, self._first_wins)

    def read_index(self, spark: SparkSession) -> DataFrame:
        """Index rows of every committed epoch, earlier-wins per id."""
        paths = self._epoch_dirs(self.index_dir)
        if not paths:
            raise ValueError("no committed epochs yet")
        return self._first_wins(spark.read.parquet(*paths))
