"""Layered benchmark of indicators_spark.

    python3 perfbench/run.py --workload ta --seed 1 --seconds 20 --trace 0

Run from the repository root.  One closed-loop client issues calls one
after another on ``local[N]``, N half the CPUs, in one driver process.  Each call is
three timed phases, each under its own Spark job group:

* build: the public builder (an ``Indicators`` chain or a catalog query);
* plan:  ``df._jdf.queryExecution().executedPlan()``;
* exec:  a ``noop`` write.

Set-up (``setup_s``) is the session start plus one warm-up pass over every
call, whose exec phase collects the output for the checks; input
generation is not timed.  The measured loop then runs whole passes, each
in a seed-permuted order, until ``--seconds`` have passed and at least
MIN_PASSES passes ran.
Every call's output is checked outside the timed regions against an
independent engine (see workloads.py); a call that raises, or whose output
check fails, counts as failed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes: traced calls are rolled up from Spark's status
stores into per-layer numbers (tracing.py), and the per-call latency
difference between the two is reported as the tracing overhead.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it print every metric with
its unit and the run's conditions.  The full report, spans included, goes
to ``.perfbench/out/`` under the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import data  # noqa: E402
from perfbench import tracing as tr  # noqa: E402


@dataclass(frozen=True)
class Scale:
    sf: float
    long_rows: int


SCALES = {
    "bench": Scale(sf=0.01, long_rows=150_000),
    "smoke": Scale(sf=0.001, long_rows=20_000),
}

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "build.s": "s",
    "build.jobs": "count",
    "build.job_s": "s",
    "build.driver_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.nodes": "count",
    "catalyst.exchanges": "count",
    "catalyst.windows": "count",
    "catalyst.single_partition": "count",
    "catalyst.python_nodes": "count",
    "executor.s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.busy_ratio": "ratio",
    "executor.spill_bytes": "bytes",
    "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes",
    "executor.task_skew": "ratio",
    "udf.python_s": "s",
    "udf.boot_s": "s",
    "udf.sent_bytes": "bytes",
    "udf.received_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.rollup_s": "s",
}

KNOB_PREFIXES = ("SPARK_GRAFT_", "INDICATORS_", "SPARK_DRIVER_MEM")

#: Whole passes a run measures at least, so every call's median has three
#: samples behind it (a traced run alternates untraced and traced passes).
MIN_PASSES = 3


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session_cores(nproc: int) -> int:
    """Task threads of the session: half the CPUs.  The other half keep the
    driver's Python, the JVM's compiler and GC threads and the Python
    workers off the task threads; on a shared host a stage spread over
    every CPU waits for whichever CPU the host preempts.  Interleaved runs
    of select_dedup on a 4-CPU VM spread (IQR / median over runs) 0.05-0.08
    at local[2] against 0.14-0.19 at local[4], at the same latency."""
    return max(1, nproc // 2)


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _source_id() -> dict:
    """Git SHA when the tree is a checkout, and always a digest of the
    package source (benchmark checkouts need not be git repositories)."""
    import subprocess

    sha = "unknown"
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            sha = out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for f in sorted((ROOT / "indicators_spark").rglob("*.py")):
        h.update(f.read_bytes())
    return {"git_sha": sha, "source_sha1": h.hexdigest()}


def _peak_rss_mb(pids: list[int]) -> float:
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total


def _set_env() -> None:
    """Environment for the driver, the JVM it launches and the Python
    workers: the package on every import path, scratch space inside the
    checkout."""
    tmp = CACHE / "tmp"
    (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot (all
    CPUs, seconds): the run stamps how much of it fell in the loop."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _end_to_end(untraced: list["Result"], source_rows: dict) -> tuple[dict, dict]:
    """End-to-end metrics of the untraced calls, and how each was formed.

    * latency_p50_s: each call's median latency over the passes, then the
      geometric mean over the calls, so that no single call's rank in a
      pooled sample decides the figure;
    * latency_tail_s: each pass's slowest call, median over the passes;
    * rows_per_s: the source rows of a complete pass over its wall time,
      for the fastest pass.  Interference from a shared host only ever
      adds time.  In three sets of ten runs per workload the fastest pass
      spread 0.05-0.13 (IQR / median over runs) and the median pass
      0.06-0.17; the fastest was the steadier in five of the six sets.
    """
    by_call: dict[str, list[float]] = {}
    by_pass: dict[int, list[Result]] = {}
    for r in untraced:
        by_call.setdefault(r.name, []).append(r.latency)
        by_pass.setdefault(r.pass_no, []).append(r)
    medians = {n: statistics.median(v) for n, v in by_call.items()}
    complete = [rs for rs in by_pass.values() if len(rs) == len(by_call)]
    e2e = {
        "latency_p50_s": statistics.geometric_mean(medians.values()),
        "latency_tail_s": statistics.median(max(r.latency for r in rs) for rs in by_pass.values()),
        "rows_per_s": max(
            (sum(source_rows.get(r.name, 0) for r in rs) / rs[0].pass_wall for rs in complete),
            default=0.0,
        ),
    }
    how = {"call_median_s": medians, "passes": len(by_pass), "complete_passes": len(complete),
           "pooled_median_s": statistics.median(r.latency for r in untraced)}
    return e2e, how


@dataclass
class Result:
    """One call: latency per phase and, when traced, its per-layer row."""
    name: str
    group: str
    traced: bool
    dur: dict | None  # phase -> seconds; None if the call raised
    pass_no: int = 0
    pass_wall: float = 0.0  # wall time of the whole pass the call ran in
    row: dict | None = None

    @property
    def latency(self) -> float:
        return sum(self.dur.values())


class Runner:
    """Issues calls one after another, each phase under its own job group."""

    def __init__(self, spark, inputs) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.inputs = inputs
        self.n = 0
        self.errors: list[dict] = []

    def error(self, call: str, phase: str, text: str, tb: str = "") -> None:
        lines = [ln.strip() for ln in text.splitlines() if ln.strip()] or [""]
        summary = lines[0] if len(lines) == 1 else f"{lines[0]} ... {lines[-1]}"
        self.errors.append({"call": call, "phase": phase, "error": summary,
                            "detail": text[-4000:], "traceback": tb[-4000:]})

    def exception(self, call: str, phase: str, e: Exception) -> None:
        self.error(call, phase, f"{type(e).__name__}: {e}", traceback.format_exc())

    def call(self, call, collect: bool = False):
        """Run one call.  Returns (call id, output, plan, marks) where marks
        maps phase -> (epoch start, epoch end, seconds).  The output is the
        DataFrame, or with ``collect`` its pandas form (the exec phase then
        runs ``toPandas()`` instead of the noop write); None if it raised."""
        self.n += 1
        cid = f"c{self.n}"
        marks, df, plan, phase = {}, None, None, "build"
        try:
            for phase in tr.PHASES:
                self.sc.setJobGroup(f"{cid}:{phase}", call.name)
                w0, t0 = time.time(), time.perf_counter()
                if phase == "build":
                    df = call.build(self.spark, self.inputs)
                elif phase == "plan":
                    plan = df._jdf.queryExecution().executedPlan()
                elif collect:
                    df = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
                marks[phase] = (w0, time.time(), time.perf_counter() - t0)
        except Exception as e:  # a failed call is counted, never hidden
            self.exception(call.name, phase, e)
            df = None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return cid, df, plan, marks


def _pass_order(rng: random.Random, calls: list) -> list:
    order = list(calls)
    rng.shuffle(order)
    return order


def _check_outputs(runner: Runner, store, calls, warm: dict) -> tuple[list, set, dict]:
    """Check every collected warm-up output and count the source rows each
    call reads.  Returns (check records, names of failed calls, source
    rows)."""
    checks, bad, source_rows = [], set(), {}
    store.drain()
    for call in calls:
        cid, df, _, _ = warm[call.name]
        if df is None:
            bad.add(call.name)
            continue
        jobs = {j for ph in tr.PHASES for j in store.job_ids(f"{cid}:{ph}")}
        stages = {s for j in jobs for s in store.stage_ids(j)}
        source_rows[call.name] = store.stage_totals(stages)["sources.input_rows"]
        try:
            results = call.check(df, runner.inputs)
        except Exception as e:
            runner.exception(call.name, "check", e)
            bad.add(call.name)
            continue
        for r in results:
            checks.append({"call": call.name, "check": r.name, "ok": r.ok,
                           "rows": r.spark_rows, "issues": r.issues})
            if not r.ok:
                bad.add(call.name)
                runner.error(call.name, "check", f"{r.name}: {'; '.join(r.issues)}")
    store.skip_executions()
    return checks, bad, source_rows


def _measure(runner: Runner, store, calls, rng, seconds: float, trace: bool):
    """Whole passes until ``seconds`` have passed and MIN_PASSES ran; with
    ``trace``, passes alternate untraced / traced.  Returns (results, pass
    walls by traced flag, spans)."""
    spans = tr.Spans()
    results: list[Result] = []
    walls = {False: [], True: []}
    traced = False
    t_loop = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        pass_no = len(walls[False]) + len(walls[True])
        in_pass = []
        if traced:
            store.skip_executions()
        for call in _pass_order(rng, calls):
            cid, df, plan, marks = runner.call(call)
            res = Result(call.name, call.group, traced, None, pass_no)
            results.append(res)
            in_pass.append(res)
            if df is None:
                continue
            res.dur = {ph: m[2] for ph, m in marks.items()}
            if traced:
                r0 = time.perf_counter()
                root = spans.add(None, call.name, marks["build"][0], marks["exec"][1], call=cid)
                phase_wall = {
                    ph: (spans.add(root, ph, m[0], m[1]), m[0], m[1]) for ph, m in marks.items()
                }
                res.row = tr.rollup_call(store, cid, phase_wall, spans)
                res.row.update(tr.plan_shape(plan.toString()))
                res.row["trace.rollup_s"] = time.perf_counter() - r0
        walls[traced].append(time.perf_counter() - p0)
        for res in in_pass:
            res.pass_wall = walls[traced][-1]
        traced = trace and not traced
        passes = len(walls[False]) + len(walls[True])
        if time.perf_counter() - t_loop >= seconds and passes >= MIN_PASSES:
            return results, walls, spans


def _layer_means(results: list[Result], cores: int) -> dict[str, float]:
    """Per-call means of the traced rows (task skew: median)."""
    done = [r for r in results if r.row is not None]
    if not done:
        return {}
    n = len(done)
    out = {k: sum(r.row[k] for r in done) / n for k in done[0].row if k in PER_LAYER}
    out["build.s"] = sum(r.dur["build"] for r in done) / n
    out["catalyst.plan_s"] = sum(r.dur["plan"] for r in done) / n
    out["executor.s"] = sum(r.dur["exec"] for r in done) / n
    out["executor.task_skew"] = statistics.median(r.row["executor.task_skew"] for r in done)
    wall = sum(r.latency for r in done)
    out["executor.busy_ratio"] = out["executor.run_s"] * n / (wall * cores)
    return out


def _stop(spark) -> None:
    """Stop the session, the JVM it launched (and with it the Python
    workers), and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    scale = SCALES[args.scale]
    load_before = _loadavg()
    _set_env()
    try:
        from perfbench.workloads import PINNED_JOBS, WORKLOADS, Inputs
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    nproc = _cores()
    cores = _session_cores(nproc)

    # inputs (not timed)
    t_in = time.perf_counter()
    sf_dir = data.tables(str(CACHE / "data"), scale.sf)
    long_path = (data.long_series(str(CACHE / "tmp"), args.seed, scale.long_rows)
                 if wl.long_series else None)
    inputs = Inputs(sf_dir=sf_dir, cache_dir=str(CACHE / "oracle" / f"sf{scale.sf:g}"),
                    long_path=long_path)
    rng = random.Random(args.seed)
    phases = {"inputs_s": time.perf_counter() - t_in}

    import pandas
    import pyarrow
    import pyspark
    from indicators_spark import get_spark
    from pyspark import SparkContext

    # set-up: session start + warm-up pass
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", cores=cores)
    try:
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        runner = Runner(spark, inputs)
        store = tr.StatusStore(spark)
        t1 = time.perf_counter()
        warm = {c.name: runner.call(c, collect=True) for c in _pass_order(rng, wl.calls)}
        warmup_s = time.perf_counter() - t1
        jvm_pid = SparkContext._gateway.proc.pid

        t2 = time.perf_counter()
        checks, bad, source_rows = _check_outputs(runner, store, wl.calls, warm)
        t3, steal0 = time.perf_counter(), _steal_s()
        results, walls, spans = _measure(runner, store, wl.calls, rng, args.seconds,
                                         bool(args.trace))
        t4, steal_s = time.perf_counter(), _steal_s() - steal0
        peak_rss = _peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        _stop(spark)
        inputs.close()
        if long_path:
            os.remove(long_path)
    phases.update(start_s=start_s, warmup_s=warmup_s, checks_s=t3 - t2, loop_s=t4 - t3,
                  stop_s=time.perf_counter() - t4)

    # failures: calls that raised, and every call of a query whose check failed
    attempted = len(warm) + len(results)
    failed = sum(m[1] is None or n in bad for n, m in warm.items()) + sum(
        r.dur is None or r.name in bad for r in results)
    untraced = [r for r in results if not r.traced and r.dur is not None]
    if not untraced:
        print("perfbench: no call completed", file=sys.stderr)
        for e in runner.errors:
            print(f"  {e['call']} [{e['phase']}]: {e['error'][:500]}", file=sys.stderr)
        return 1
    lat_e2e, lat_how = _end_to_end(untraced, source_rows)
    e2e = {"setup_s": start_s + warmup_s, **lat_e2e}

    layer, by_group, pins = {}, {}, {}
    jobs_seen: dict[str, set] = {}
    if args.trace:
        layer = _layer_means(results, cores)
        layer.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.peak_rss_mb": peak_rss,
            "trace.overhead_s": (statistics.mean(walls[True]) - statistics.mean(walls[False]))
            / len(wl.calls),
        })
        for g in sorted({r.group for r in results}):
            by_group[g] = _layer_means([r for r in results if r.group == g], cores)
        for r in results:
            if r.row is not None:
                jobs_seen.setdefault(r.name, set()).add(
                    (r.row["build.jobs"], r.row["executor.jobs"]))
        pins = {
            name: {"expected": list(exp), "seen": sorted(map(list, jobs_seen.get(name, ()))),
                   "ok": jobs_seen.get(name) == {exp}}
            for name, exp in PINNED_JOBS.items() if name in warm
        }

    units = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else e2e
    # a metric no completed call produced reads 0 (the failures are counted)
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    conditions = {
        **_source_id(),
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": nproc,
        "master": f"local[{cores}]",
        "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "pandas": pandas.__version__, "python": sys.version.split()[0]},
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "steal_s_in_loop": steal_s,
        "inputs": {"sf": scale.sf,
                   "long_series_rows": scale.long_rows if wl.long_series else 0,
                   "source_rows_per_pass": sum(source_rows.values())},
        "knobs": {k: v for k, v in sorted(os.environ.items()) if k.startswith(KNOB_PREFIXES)},
    }
    report = {
        "conditions": conditions,
        "end_to_end": e2e,
        "failed_ratio": failed / attempted,
        "latency": lat_how,
        "per_layer": layer,
        "per_layer_by_group": by_group,
        "pinned_jobs": pins,
        "job_counts": {k: sorted(map(list, v)) for k, v in jobs_seen.items()},
        "checks": checks,
        "errors": runner.errors,
        "run_phases": phases,
        "warmup": {n: {ph: m[2] for ph, m in w[3].items()} for n, w in warm.items()},
        "pass_walls": {"untraced": walls[False], "traced": walls[True]},
        "calls": [[r.name, r.traced, r.dur] for r in results],
        "spans": spans.as_json(),
    }
    out_dir = CACHE / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    out_file = out_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    out_file.write_text(json.dumps(report, indent=1, default=str))

    print(f"conditions {json.dumps(conditions, separators=(',', ':'))}")
    for e in runner.errors:
        print(f"FAILED {e['call']} [{e['phase']}]: {e['error'][:400]}")
    print(f"metric failed_ratio = {failed / attempted:.6g} ratio ({failed} of {attempted} calls)")
    print(f"latency {len(untraced)} calls in {lat_how['passes']} untraced passes; "
          f"pooled median {lat_how['pooled_median_s']:.6g} s")
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    for g, row in by_group.items():
        print(f"group {g} " + json.dumps({k: round(v, 6) for k, v in row.items()},
                                        separators=(",", ":")))
    for name, p in pins.items():
        print(f"pin {name} build+exec jobs expected {p['expected']} seen {p['seen']} "
              f"{'ok' if p['ok'] else 'MISMATCH'}")
    print(f"report {out_file.relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
