"""The repository's benchmark: one workload per run, in one process.

Run from the checkout root:

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

WORKLOAD is dbt_build or catalog_mix (perfbench/workloads.json says what
each runs and why). A run generates its inputs from ``--seed``, sets the
session up ``SETUPS`` times (session start, ``load_catalog()`` and one
untimed warm pass that fills the program's caches), then runs timed passes,
one client in a closed loop, until ``--seconds`` have passed (at least one). Every output of a timed operation is checked
outside the timed region, against DuckDB where a twin exists.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` switches on
Spark's event log (spark-submit arguments), a job group per operation and
a streaming listener, and reports the per-layer metrics. The last line of
standard output is one JSON object with keys correct, attempted, failed
and metrics; the lines before it are a readable table.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2  # a cold set-up (JVM start) and one on a restarted session
# pass_s and op_p50_s are printed in every run's table and reported by the
# traced run. They are not end-to-end metrics: on a shared 4-core host whole
# runs slow down by up to x1.5, so their run-to-run spread (0.10-0.38 over
# 10 seeds) can exceed the largest allowed bound, while the interleaved
# Spark/DuckDB ratio, whose twin shares the host's state, stays within it.
END_TO_END = {"duckdb_ratio": "x", "setup_s": "s"}


def _configure_env(work: str, trace: bool) -> None:
    """Process environment for the session, set before the JVM starts.
    Python UDF workers import the package, so its root goes on their
    PYTHONPATH whatever the working directory."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # -XX:-UsePerfData: the JVM's perf-counter file would go to the
        # system temp dir, outside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.rolling.enabled": "true",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus its JVM child, sampled
    from /proc while the timed passes run."""

    def __init__(self, pids: list[int], every: float = 0.05):
        super().__init__(daemon=True)
        self.pids, self.every, self.peak = pids, every, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(self.rss_kb(p) for p in self.pids))
            self._stop_evt.wait(self.every)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / 1024


def _descendants(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(entry))
    return kids + [d for k in kids for d in _descendants(k)]


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def shutdown_spark() -> None:
    """Stop the session, then the gateway JVM and every process under it,
    and wait until all have ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    tree = _descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; the JVM still is stopped below
        pass
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    _wait_gone(tree, timeout=15)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_op_medians(ops, order, attr: str) -> list[float]:
    """Each operation's median over the run's passes, in pass order."""
    return [_median([getattr(r, attr) for r in ops if r.name == n]) for n in order]


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run(args, work: str) -> tuple[dict, list[str]]:
    sys.path[:0] = [HERE, ROOT]
    _configure_env(work, args.trace)
    import stats
    import tracing as tr
    import workloads as wls
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.session import get_spark

    wall0 = time.perf_counter()
    wl = wls.make(args.workload)
    t0 = time.perf_counter()
    inputs = wl.prepare(os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t0
    order = wl.ops(args.seed)
    failures: list[str] = []
    attempted = 0

    setups, setup_parts, setup_ops, spark = [], [], [], None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark()
        t1 = time.perf_counter()
        catalog = load_catalog()
        t2 = time.perf_counter()
        for name in order:  # warm pass: fills the program's caches
            r = wl.run_op(spark, catalog, name, wls.Hooks())
            setup_ops.append((i, name, r.seconds))
            attempted += 1
            if not r.ok:
                failures.append(f"setup {name}: {r.error}")
        setups.append(time.perf_counter() - t0)
        setup_parts.append((t1 - t0, setups[-1] - (t2 - t0)))
        if i == 0:
            session_start, catalog_import = t1 - t0, t2 - t1

    hooks = TraceHooks(spark, tr) if args.trace else wls.Hooks()
    sampler = RssSampler([os.getpid(), _jvm_pid()])
    sampler.start()
    passes: list[list] = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < args.seconds:
        done = []
        for i, name in enumerate(order):
            group = f"pb{len(passes)}:{i}:{name}"
            hooks.before_op(group)
            r = wl.run_op(spark, catalog, name, hooks)
            hooks.after_op(group)
            r.group = group
            if r.ok:
                wl.check(r)
            r.output = None
            done.append(r)
        passes.append(done)
    peak_mb = sampler.stop()
    wl.close()
    timed_wall = time.perf_counter() - t_start

    ops = [r for p in passes for r in p]
    attempted += len(ops)
    failures += [f"{r.name}: {r.error}" for r in ops if not r.ok]
    pass_times = [sum(r.seconds for r in p) for p in passes]
    op_times = [r.seconds for r in ops]
    lines = [
        f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
        f"cores {os.environ['SPARK_GRAFT_CPUS']}  inputs {inputs['input_bytes']} B "
        f"generated in {gen_s:.2f} s",
        f"passes {len(passes)}  ops/pass {len(order)}  op samples {len(op_times)}  "
        f"pass times (s): {', '.join(f'{t:.3f}' for t in pass_times)}",
        "setups (s): " + ", ".join(
            f"{s:.3f} (session {a:.2f} + warm pass {b:.2f})"
            for s, (a, b) in zip(setups, setup_parts)),
        f"wall (s): setups+checks {t_start - wall0 - gen_s:.1f}, timed loop {timed_wall:.1f}",
    ]
    p90 = stats.p90(op_times)
    lines.append(f"op_p90_s {p90:.4f} s (n={len(op_times)})" if p90 is not None else
                 f"op_p90_s not reported (n={len(op_times)} < {stats.P90_MIN_SAMPLES} samples)")
    lines.append(f"error_rate {len(failures) / attempted:.4f} ({len(failures)}/{attempted})  "
                 f"peak_rss_mb {peak_mb:.1f} (Python process + JVM, timed passes)")
    lines.append("cold pass s: " + ", ".join(f"{n} {t:.2f}" for i, n, t in setup_ops if i == 0))
    spark_s, twin_s = per_op_medians(ops, order, "seconds"), per_op_medians(ops, order, "twin_s")
    lines.append("per-op median s (spark/duckdb): " + ", ".join(
        f"{n} {a:.3f}/{b:.4f}" for n, a, b in zip(order, spark_s, twin_s)))
    lines += [f"FAILED {f}" for f in failures[:20]]
    timing = {"pass_s": _median(pass_times), "op_p50_s": _median(spark_s)}
    lines += [f"{k} {v:.4f} s" for k, v in timing.items()]
    if not args.trace:
        metrics = {
            "duckdb_ratio": sum(spark_s) / sum(twin_s) if sum(twin_s) else 0.0,
            "setup_s": _median(setups),
        }
        units = END_TO_END
    else:
        shutdown_spark()
        metrics = layer_metrics(tr, passes, hooks, work, inputs)
        metrics.update(timing, peak_rss_mb=peak_mb, **{
            "session.start_s": session_start, "catalog.import_s": catalog_import})
        units = LAYER_UNITS
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    lines += [f"{k:38s} {v['value']:14.6f} {v['unit']}" for k, v in result["metrics"].items()]
    return result, lines


class TraceHooks:
    """Job group per operation, Catalyst phase times after the action,
    and streaming progress captured per operation."""

    def __init__(self, spark, tr):
        self.sc = spark.sparkContext
        self.listener = tr.make_listener()
        spark.streams.addListener(self.listener)
        self.progress: dict[str, list[dict]] = {}

    def before_op(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._mark = len(self.listener.progress)

    def after_action(self, df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                out[f"catalyst.{ph}"] = opt.get().durationMs() / 1e3
        return out

    def after_op(self, group: str) -> None:
        self.listener.settle()
        self.progress[group] = self.listener.progress[self._mark:]
        self.sc.setJobGroup("", "")


LAYER_UNITS = {
    "session.start_s": "s", "catalog.import_s": "s",
    "sources.seed_load_s": "s", "sources.bytes_written_per_input_byte": "ratio",
    "plans.run_s": "s", "plans.snapshot_s": "s", "plans.docs_s": "s",
    "testing.checks_s": "s", "testing.violations": "count",
    "operators.build_s": "s", "operators.action_s": "s", "operators.build_share": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_delay_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.deser_s": "s",
    "exec.gc_s": "s", "exec.cpu_per_run": "ratio", "exec.failed_tasks": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.disk_mb": "MB", "python.data_sent_mb": "MB", "python.exec_s": "s",
    "streaming.triggers": "count", "streaming.empty_triggers": "count",
    "streaming.trigger_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.state_stores": "count", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.drain_overhead_s": "s",
    "pass_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB",
}
SPAN_METRICS = {
    "sources.seed_load": "sources.seed_load_s", "plans.run": "plans.run_s",
    "plans.snapshot": "plans.snapshot_s", "plans.docs": "plans.docs_s",
    "testing.checks": "testing.checks_s", "testing.violations": "testing.violations",
    "operators.build": "operators.build_s", "operators.action": "operators.action_s",
    "catalyst.analysis": "catalyst.analysis_s",
    "catalyst.optimization": "catalyst.optimization_s",
    "catalyst.planning": "catalyst.planning_s",
}
EXEC_METRICS = {
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.sched_delay_s": "sched_delay_s", "exec.run_s": "run_s", "exec.cpu_s": "cpu_s",
    "exec.deser_s": "deser_s", "exec.gc_s": "gc_s", "exec.failed_tasks": "failed_tasks",
    "shuffle.write_mb": "shuffle_write_mb", "shuffle.read_mb": "shuffle_read_mb",
    "shuffle.fetch_wait_s": "fetch_wait_s", "spill.disk_mb": "spill_disk_mb",
    "python.data_sent_mb": "python_sent_mb", "python.exec_s": "python_exec_s",
}


def layer_metrics(tr, passes, hooks, work: str, inputs: dict) -> dict:
    """Per-layer metrics: each summed over one pass, median over passes."""
    groups = tr.aggregate_events(tr.read_events(os.path.join(work, "eventlog")))
    per_pass: list[dict] = []
    for p in passes:
        m = dict.fromkeys(LAYER_UNITS, 0.0)
        records = []
        for r in p:
            for span, metric in SPAN_METRICS.items():
                m[metric] += r.layers.get(span, 0.0)
            prog = hooks.progress.get(r.group, [])
            records += prog
            for gid in {r.group, *(x["run_id"] for x in prog)}:
                t = groups.get(gid)
                for metric, attr in (EXEC_METRICS.items() if t else ()):
                    m[metric] += getattr(t, attr)
            if prog:
                trig_s = sum(x["duration_ms"].get("triggerExecution", 0) for x in prog) / 1e3
                m["streaming.drain_overhead_s"] += r.layers.get("operators.build", 0.0) - trig_s
            written = r.layers.get("sources.bytes_written")
            if written:
                m["sources.bytes_written_per_input_byte"] = written / inputs["input_bytes"]
        for k, v in tr.aggregate_progress(records).items():
            m[f"streaming.{k}"] = v
        busy = m["operators.build_s"] + m["operators.action_s"]
        m["operators.build_share"] = m["operators.build_s"] / busy if busy else 0.0
        m["exec.cpu_per_run"] = m["exec.cpu_s"] / m["exec.run_s"] if m["exec.run_s"] else 0.0
        per_pass.append(m)
    return {k: _median([m[k] for m in per_pass]) for k in LAYER_UNITS
            if k not in ("session.start_s", "catalog.import_s", "pass_s", "op_p50_s", "peak_rss_mb")}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dbt_build", "catalog_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("jaffle_shop_classic_spark", os.path.join("tools", "parity.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    t0 = time.perf_counter()
    try:
        result, lines = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    lines.append(f"run wall {time.perf_counter() - t0:.1f} s")
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
