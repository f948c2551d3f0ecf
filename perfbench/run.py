#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload mapreduce_jobs --seed 1 --seconds 15 --trace 0

Run from the repository root. The benchmark calls the package's public
functions and times those calls; it changes nothing in the package.

A run writes its inputs from ``--seed`` (settings.json fixes everything
else) and starts Spark. Then it runs a cold first pass, a fixed number of
untimed warmup passes (the workload's curve has flattened by then) and
timed passes for ``--seconds``; passes that ran while other guests of the
host took CPU are left out of the timings (see GATE_STEAL_CPUS). Every op
is checked after every run, outside the timed region. An op that raises or
fails its check counts as failed; the run goes on.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate run
that prints the per-layer metrics: its window alternates traced and untraced
passes, tags each traced span's Spark jobs with a job group, reads the
event log after the session stops, and writes its spans to
``perfbench/.work/<workload>/trace.json``. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import eventlog
import sessions
import workloads
from tracing import NullTracer, Tracer, UdfCounters, patched, self_times

HERE = Path(__file__).resolve().parent
SETTINGS = json.loads((HERE / "settings.json").read_text())
# Spark starts per untraced run: SETUP_SAMPLES - 1 probe processes, then the
# run's own. Each costs about 9 s of a run that must stay near a minute.
SETUP_SAMPLES = 2
EMPTY_JOB_PROBES = 15
# The host is a shared VM: CPU taken by other guests (steal) stretched a 1.0 s
# iterative pass to 1.3-1.6 s. Steal shows only while the VM wants CPU, so it
# is read over each timed pass: a pass with more than GATE_STEAL_CPUS CPUs
# stolen is contended, and a window where they are the majority is marked so.
GATE_STEAL_CPUS = 0.03
# per-op metrics cover every op of every workload, so each traced run prints
# the same names (0 for ops the workload does not run)
OP_NAMES = (*SETTINGS["workloads"]["mapreduce_jobs"]["jobs"], *SETTINGS["workloads"]["iterative"]["ops"])


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f} s] {msg}", file=sys.stderr, flush=True)


class Runner:
    """Runs passes over an op list, counting attempted and failed ops."""

    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        self.attempted = 0
        self.failed = 0

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what} failed", file=sys.stderr)
        traceback.print_exc()

    def run_pass(self, ops, tracer, first: bool = False) -> float:
        """Seconds spent running the ops; each op's check runs outside that time."""
        elapsed = 0.0
        for op in ops:
            tracer.op = op.name
            self.attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    op.run(self.spark, tracer)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                elapsed += time.perf_counter() - t
                self._fail(op.name)
                continue
            elapsed += time.perf_counter() - t
            try:
                self.wl.verify(self.spark, op, first)
            except Exception:  # noqa: BLE001 — includes CheckFailed
                self._fail(f"{op.name} check")
        return elapsed


def host_snapshot() -> tuple[float, float]:
    """(wall clock, CPU seconds the hypervisor gave other guests so far, all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return time.perf_counter(), int(fields[8]) / os.sysconf("SC_CLK_TCK")


def steal_cpus(since: tuple[float, float]) -> float:
    """CPUs stolen on average since ``since``."""
    now = host_snapshot()
    return (now[1] - since[1]) / max(now[0] - since[0], 1e-9)


def warm_up(runner, ops, passes: int) -> float:
    """The cold first pass (which also runs the first-pass checks) and the
    untimed warmup passes; returns the first pass's seconds."""
    null = NullTracer()
    first = runner.run_pass(ops, null, first=True)
    log(f"first pass {first:.2f} s")
    for _ in range(passes):
        runner.run_pass(ops, null)
    return first


def quiet(passes: list[tuple[float, float]]) -> list[float]:
    """The seconds of the ``(seconds, CPUs stolen)`` passes that ran
    uncontended, when they are at least half; otherwise of every pass."""
    kept = [s for s, stolen in passes if stolen <= GATE_STEAL_CPUS]
    return kept if 2 * len(kept) >= len(passes) else [s for s, _ in passes]


def end_to_end(runner, ops, seconds: float, setup_times: list[float]) -> tuple[dict, dict]:
    """Timed passes for ``seconds`` (at least one); the end-to-end metrics as
    ``{name: (value, unit, samples)}`` over the uncontended passes."""
    null = NullTracer()
    passes: list[tuple[float, float]] = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        snap = host_snapshot()
        passes.append((runner.run_pass(ops, null), steal_cpus(snap)))
    timed = quiet(passes)
    rss, rss_by_name = sessions.peak_rss_mb()
    log("peak RSS MB by program: " + json.dumps({k: round(v) for k, v in rss_by_name.items()}))
    rows_per_pass = sum(op.input_rows for op in ops)
    metrics = {
        "setup_s": (statistics.median(setup_times), "s", len(setup_times)),
        "pass_s_p50": (statistics.median(timed), "s", len(timed)),
        "input_rows_per_s": (rows_per_pass * len(timed) / sum(timed), "rows/s", len(timed)),
        "peak_rss_mb": (rss, "MB", 1),
    }
    info = {
        "timed_passes": [[round(t, 4), round(stolen, 3)] for t, stolen in passes],
        "contended": len(timed) == len(passes) and any(stolen > GATE_STEAL_CPUS for _, stolen in passes),
    }
    return metrics, info


@dataclass
class TracedRun:
    """What the traced run measured before the session stopped."""

    tracer: Tracer
    first_s: float
    empty_job_s: float
    udf: tuple[float, float, int, int] = (0.0, 0.0, 0, 0)  # map_s, reduce_s, pairs, groups
    traced_s: list[float] = field(default_factory=list)
    untraced_s: list[float] = field(default_factory=list)
    traced_passes: list[int] = field(default_factory=list)


def empty_job_s(sc, probes: int) -> float:
    """Median latency of a one-task JVM job that does nothing (no Python
    worker), run outside every op's job group."""
    one = sc._jvm.java.util.ArrayList()
    one.add(0)

    def job() -> None:
        sc._jsc.parallelize(one, 1).count()

    sc.setJobGroup("probe", "empty job")
    for _ in range(3):
        job()
    times = []
    for _ in range(probes):
        t = time.perf_counter()
        job()
        times.append(time.perf_counter() - t)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return statistics.median(times)


def traced_window(runner, wl, spark, seconds: float, first_s: float) -> TracedRun:
    """Alternate traced and untraced passes for ``seconds``."""
    sc = spark.sparkContext
    counters = UdfCounters(sc)
    tr = TracedRun(Tracer(sc), first_s, empty_job_s(sc, EMPTY_JOB_PROBES))
    start, pass_no = time.perf_counter(), 0
    while not (tr.traced_s and tr.untraced_s) or time.perf_counter() - start < seconds:
        pass_no += 1
        if pass_no % 2 == 1:
            # map/reduce fns timed through accumulators, spans around the layers
            ops = wl.ops(counters.instrument)
            tr.tracer.pass_no = pass_no
            tr.traced_passes.append(pass_no)
            with patched(tr.tracer):
                tr.traced_s.append(runner.run_pass(ops, tr.tracer))
        else:
            tr.untraced_s.append(runner.run_pass(wl.ops(), NullTracer()))
    tr.udf = counters.snapshot()
    return tr


def layer_metrics(tr: TracedRun, groups: dict[str, eventlog.GroupTotals], work: Path) -> dict:
    """Per-layer metrics per traced pass, from the spans and the event log's
    job groups (``<pass>|<op>|<span name>``); also writes ``trace.json``.

    A layer a workload bypasses reads 0 (io.write_s and mapreduce.* on
    iterative, the other workload's per-op names), so every traced run
    prints the same names."""
    n = len(tr.traced_passes)
    keep = {str(p) for p in tr.traced_passes}
    mine = {g: t for g, t in groups.items() if g.split("|")[0] in keep}
    spans = tr.tracer.spans

    def jobs(pred) -> float:
        return sum(t.jobs for g, t in mine.items() if pred(*g.split("|")[1:])) / n

    def span_s(pred) -> float:
        return sum(s.end - s.start for s in spans if pred(s)) / n

    total = eventlog.combine(mine.values())
    map_s, reduce_s, pairs, reduce_groups = tr.udf
    traced_p50, plain_p50 = statistics.median(tr.traced_s), statistics.median(tr.untraced_s)
    m = {
        "io.read_s": (span_s(lambda s: s.name == "io.read"), "s"),
        "io.read_jobs": (jobs(lambda op, layer: layer == "io.read"), "count"),
        "io.write_s": (span_s(lambda s: s.name == "io.write"), "s"),
        # build is inclusive: its io.read spans and their jobs count in it too
        "queries.build_s": (span_s(lambda s: s.name == "queries.build"), "s"),
        "queries.build_jobs": (jobs(lambda op, layer: layer in ("queries.build", "io.read")), "count"),
        "queries.exec_s": (
            span_s(lambda s: s.name == "op") - span_s(lambda s: s.name == "queries.build"), "s"),
        "mapreduce.map_s": (map_s / n, "s"),
        "mapreduce.reduce_s": (reduce_s / n, "s"),
        "mapreduce.reduce_groups": (reduce_groups / n, "count"),
        "mapreduce.pairs_per_group": (pairs / reduce_groups if reduce_groups else 0.0, "ratio"),
        "spark.jobs": (total.jobs / n, "count"),
        "spark.stages": (total.stages / n, "count"),
        "spark.tasks": (total.tasks / n, "count"),
        "spark.empty_job_s": (tr.empty_job_s, "s"),
        "spark.scheduling_floor_s": (total.jobs / n * tr.empty_job_s, "s"),
        "spark.executor_run_s": (total.executor_run_s / n, "s"),
        "spark.executor_cpu_s": (total.executor_cpu_s / n, "s"),
        "spark.shuffle_read_mb": (total.shuffle_read_bytes / n / 2**20, "MB"),
        "spark.shuffle_write_mb": (total.shuffle_write_bytes / n / 2**20, "MB"),
        "spark.gc_s": (total.gc_s / n, "s"),
        "spark.spill_mb": (total.spill_bytes / n / 2**20, "MB"),
        "spark.jvm_heap_peak_mb": (total.jvm_heap_peak_bytes / 2**20, "MB"),
        "session.first_pass_s": (tr.first_s, "s"),
        "trace.pass_s_p50": (traced_p50, "s"),
        "trace.untraced_pass_s_p50": (plain_p50, "s"),
        # a difference of two medians: below the pass-to-pass noise it can be negative
        "trace.overhead_s": (traced_p50 - plain_p50, "s"),
    }
    for op in OP_NAMES:
        m[f"{op}.jobs"] = (jobs(lambda o, layer: o == op), "count")
        m[f"{op}.build_s"] = (span_s(lambda s: s.op == op and s.name == "queries.build"), "s")
        m[f"{op}.exec_s"] = (
            span_s(lambda s: s.op == op and s.name == "op")
            - span_s(lambda s: s.op == op and s.name == "queries.build"), "s")
    t0 = spans[0].start if spans else 0.0
    (work / "trace.json").write_text(json.dumps({
        "traced_passes": tr.traced_passes,
        "self_s_per_pass": {k: v / n for k, v in self_times(spans).items()},
        "spans": [{**vars(s), "start": s.start - t0, "end": s.end - t0} for s in spans],
        "job_groups": {g: vars(t) for g, t in groups.items()},
    }, indent=1))
    samples = {
        "spark.empty_job_s": EMPTY_JOB_PROBES,
        "session.first_pass_s": 1,
        "trace.untraced_pass_s_p50": len(tr.untraced_s),
    }
    return {k: (v, unit, samples.get(k, n)) for k, (v, unit) in m.items()}


def probe_setup(cpus: int, conf: dict, root: Path) -> float:
    out = subprocess.run(
        [sys.executable, str(HERE / "setup_probe.py"), str(cpus), json.dumps(conf)],
        cwd=root, capture_output=True, text=True, timeout=120, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SETTINGS["workloads"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = Path.cwd()
    if not (root / "map_reduce_engine_spark" / "__init__.py").is_file():
        print("perfbench: map_reduce_engine_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    work = HERE / ".work" / args.workload
    shutil.rmtree(work, ignore_errors=True)

    sp, wcfg = SETTINGS["spark"], SETTINGS["workloads"][args.workload]
    conf = sessions.configure(root, work, sp, event_log=bool(args.trace))
    wl = workloads.make(args.workload, work, args.seed, SETTINGS)
    log("inputs written")
    setup_times = []
    if not args.trace:
        setup_times = [probe_setup(sp["cpus"], conf, root) for _ in range(SETUP_SAMPLES - 1)]

    from map_reduce_engine_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(cpus=sp["cpus"], extra_conf=conf)
    setup_times.append(time.perf_counter() - t)
    log(f"setup samples {[round(x, 2) for x in setup_times]}")
    runner = Runner(spark, wl)
    try:
        first_s = warm_up(runner, wl.ops(), wcfg["warmup_passes"])
        if args.trace:
            tr = traced_window(runner, wl, spark, args.seconds, first_s)
            info = {"traced_passes": len(tr.traced_s), "untraced_passes": len(tr.untraced_s)}
        else:
            metrics, info = end_to_end(runner, wl.ops(), args.seconds, setup_times)
            if info["contended"]:
                log(f"WARNING: most timed passes ran with more than {GATE_STEAL_CPUS} CPUs stolen: "
                    "contention-suspect run")
    finally:
        sessions.shutdown(spark)
    log("session stopped")
    if args.trace:  # the event log is complete only once the session has stopped
        (log_file,) = (work / "eventlog").iterdir()
        metrics = layer_metrics(tr, eventlog.parse_file(log_file), work)

    print("settings: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cpus": sp["cpus"], "driver_memory": sp["driver_memory"], "host_nproc": os.cpu_count(),
        "warmup_passes": wcfg["warmup_passes"], **info,
    }))
    for name, (value, unit, n) in metrics.items():
        print(f"{name} = {value:.6g} {unit} (n={n})")
    ratio = runner.failed / runner.attempted
    print(f"failed_op_ratio = {ratio:.6g} ratio (n={runner.attempted})")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
