"""Driver-adapter contract tests (no SparkSession needed).

The driver verifies ``queries()`` in dict order under a ~50-query/round
budget and has no rows-only mode, so the adapter must (a) expose only
oracle-bearing queries, (b) order never-green queries first in
registration order, and (c) keep ``queries()`` / ``oracle_sql()`` keys
identical.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pkgutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _adapter():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_adapter", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("spark_entry_adapter", mod)
    spec.loader.exec_module(mod)
    return mod


def test_no_oracle_less_entries_exposed():
    mod = _adapter()
    from indicators_spark.queries import QUERIES

    names = mod._ordered_names()
    assert names, "empty driver catalog"
    for n in names:
        assert QUERIES[n].sql is not None, f"{n} would err no_oracle"
    # the sql=None operators stay registered locally (parity test covers
    # them rows-only) but never reach the driver
    local_only = {n for n in QUERIES if QUERIES[n].sql is None}
    assert local_only == {"text_compression_ratio", "stats_hll_rollup"}
    assert not local_only & set(names)


def test_queries_and_oracle_sql_keys_identical():
    mod = _adapter()
    q = mod.queries()
    o = mod.oracle_sql()
    assert list(q) == list(o)
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_ordering_three_tiers():
    """Never-green first, then touched-since-green, then green rotation by
    ascending latest-green round (registration order inside each tier)."""
    mod = _adapter()
    from indicators_spark.queries import QUERIES

    eligible = [n for n in QUERIES if QUERIES[n].sql is not None]
    # fake history: every other query green, alternating rounds 2 and 5
    fake_green = {n: (2 if i % 4 == 0 else 5) for i, n in enumerate(eligible) if i % 2 == 0}
    names = mod._ordered_names(green=fake_green)
    assert set(names) == set(eligible)
    n_never = len(eligible) - len(fake_green)
    never, green = names[:n_never], names[n_never:]
    assert all(n not in fake_green for n in never)
    # touched entries whose green row predates the touch outrank rotation
    touched_stale = [n for n in green if mod._TOUCHED.get(n, 0) > fake_green[n]]
    assert green[: len(touched_stale)] == touched_stale
    # the rest rotate oldest-green first
    rest = green[len(touched_stale):]
    rounds = [fake_green[n] for n in rest]
    assert rounds == sorted(rounds)
    idx = {n: i for i, n in enumerate(QUERIES)}
    assert [idx[n] for n in never] == sorted(idx[n] for n in never)
    for r in set(rounds):
        grp = [idx[n] for n in rest if fake_green[n] == r]
        assert grp == sorted(grp)


def test_touched_entries_self_clear():
    """A _TOUCHED entry stops outranking rotation once a green row at or
    after the touch round exists."""
    mod = _adapter()
    from indicators_spark.queries import QUERIES

    eligible = [n for n in QUERIES if QUERIES[n].sql is not None]
    assert mod._TOUCHED, "rotation hole regression: _TOUCHED emptied"
    touched = next(iter(mod._TOUCHED))
    rnd = mod._TOUCHED[touched]
    # everyone green in an old round, touched query green AFTER its touch
    fake_green = {n: 1 for n in eligible}
    fake_green[touched] = rnd
    names = mod._ordered_names(green=fake_green)
    # touched is now round-`rnd` green → sorts AFTER all round-1 rotation
    assert names[-1] == touched or fake_green[names[-1]] == rnd


def test_real_ordering_prioritizes_backlog_then_touched():
    """With the real CORRECTNESS history: never-green head, then any
    touched-since-green queries, then stalest-green rotation."""
    mod = _adapter()
    green = mod._evidenced()
    names = mod._ordered_names()
    k = sum(1 for n in names if n not in green)
    assert all(n not in green for n in names[:k])
    assert all(n in green for n in names[k:])
    stale = [n for n in names[k:] if mod._TOUCHED.get(n, 0) > green[n]]
    assert names[k : k + len(stale)] == stale
    # the r6-touched queries must land inside the driver's ~50-slot budget
    for n in (
        "similarity_knn_hamming",
        "embedding_binary_quantize",
        "dedup_substring_clean",
        "sample_cap_per_source",
        "analytic_weighted_quantiles",
    ):
        if mod._TOUCHED.get(n, 0) > green.get(n, 0):
            assert names.index(n) < 50, f"{n} outside the driver budget"
    # rotation tail is non-decreasing in latest-green round
    tail = names[k + len(stale):]
    rounds = [green[n] for n in tail]
    assert rounds == sorted(rounds)


def _catalog_modules() -> list[str]:
    import indicators_spark
    import indicators_spark.queries as catalog

    flat = [
        f"indicators_spark.{m.name}"
        for m in pkgutil.iter_modules(indicators_spark.__path__)
        if m.name.startswith("queries")
    ]
    nested = [
        f"indicators_spark.queries.{m.name}"
        for m in pkgutil.iter_modules(getattr(catalog, "__path__", []))
    ]
    return flat + nested


def test_registry_order_independent_of_entry_point():
    """Importing any catalog module first yields the same registry, in
    the same order, as ``import indicators_spark.queries``: the driver
    breaks ordering ties by registration index.  Each import runs in a
    fresh interpreter (no SparkSession)."""
    script = (
        "import importlib, json, sys; importlib.import_module(sys.argv[1]); "
        "from indicators_spark.queries import QUERIES; print(json.dumps(list(QUERIES)))"
    )
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    mods = ["indicators_spark.queries"] + _catalog_modules()
    procs = {
        m: subprocess.Popen(
            [sys.executable, "-c", script, m],
            cwd=REPO, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for m in mods
    }
    orders = {}
    for m, p in procs.items():
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, f"importing {m} first failed:\n{err}"
        orders[m] = json.loads(out)
    want = orders.pop("indicators_spark.queries")
    assert len(want) == len(set(want)) > 0
    for m, got in orders.items():
        assert got == want, f"importing {m} first reorders the registry"
