#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one operation at a time.

Usage, from the repository root::

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 15 --trace 0

Workloads (``workloads.py``): ``llm_curation`` runs a fixed mix of registry
queries, each built and executed through the ``noop`` sink; ``siga_etl``
runs the reference program end to end (CSV -> ``siga_pipeline`` -> six CSV
tables).  A run

1. generates its inputs from the seed, before the session starts;
2. starts the session pinned to ``local[n]`` with ``n`` shuffle partitions,
   ``n`` being the CPUs this process may use;
3. warms up with ``WARMUP_LAPS`` whole laps at the measured scale
   (``setup_s`` ends here);
4. times ``round(--seconds / NOMINAL_LAP_S)`` whole laps, a fixed count, so
   a run slowed by the host measures the same laps as any other;
5. checks outputs, untimed: each query of the last lap against its DuckDB
   oracle, every SIGA operation's tables as they are written.

With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced laps and reports the per-layer metrics
(``layers.py``).  The last line of stdout is one JSON object.  Scratch files
live under ``.perfbench_work/`` and are removed at exit; the spans of a
traced run are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import layers
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "java_etl_bi_generator_spark"


def since_process_start() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class Op:
    """One timed operation."""

    __slots__ = ("name", "seconds", "error")

    def __init__(self, name: str, seconds: float, error: str | None):
        self.name, self.seconds, self.error = name, seconds, error


def timed(name: str, fn) -> Op:
    t0 = time.perf_counter()
    try:
        fn()
        error = None
    except Exception:
        error = traceback.format_exc()
        print(f"op {name} failed:\n{error}", file=sys.stderr)
    return Op(name, time.perf_counter() - t0, error)


def run_window(run_op, order, n_laps: int) -> list[list[Op]]:
    return [[run_op(name) for name in order] for _ in range(n_laps)]


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and the Python workers it started,
    and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in workers:
        os.kill(p, 9)


def rss_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def run(args, get_spark, work: str) -> dict:
    parallelism = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    w = workloads.make(args.workload, work, args.seed, parallelism)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{parallelism}]",
                      shuffle_partitions=parallelism)
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        w.spark = spark
        order = workloads.lap_order(w.ops, args.seed)

        def run_op(name):
            op = timed(name, lambda: w.op(name))
            w.after_op(op)
            return op

        t0 = time.perf_counter()
        warm = [run_op(name) for _ in range(workloads.WARMUP_LAPS[args.workload])
                for name in order]
        warmup_s = time.perf_counter() - t0
        # Input generation belongs before the measured process; take it out.
        setup_s = since_process_start() - inputs_s

        n_laps = max(1, round(args.seconds / workloads.NOMINAL_LAP_S[args.workload]))
        metrics, units = {}, {}
        if not args.trace:
            laps = run_window(run_op, order, n_laps)
        else:
            laps, traced_laps, tracer, lap_ids = traced_window(
                w, spark, order, n_laps, run_op
            )
            units = layers.metric_units(
                [q for mix in workloads.QUERY_MIXES.values() for q in mix]
            )
            m = layers.per_layer(tracer.spans, lap_ids)
            untraced, traced = ops_per_s(laps), ops_per_s(traced_laps)
            from pyspark import SparkContext

            m.update({
                "session.parallelism": parallelism,
                "session.get_spark_s": get_spark_s,
                "session.warmup_s": warmup_s,
                "session.peak_rss_mb": rss_mb("self") + rss_mb(SparkContext._gateway.proc.pid),
                "trace.ops_per_s": traced,
                "trace.untraced_ops_per_s": untraced,
                "trace.overhead_frac": 1 - traced / untraced,
            })
            metrics = {k: m.get(k, 0.0) for k in units}
            print("self time per lap: " + ", ".join(
                f"{layer} {m.get(f'{layer}.self_s', 0.0):.3f} s" for layer in layers.LAYERS
            ))
            write_spans(tracer.spans, args)
            laps = traced_laps
        t0 = time.perf_counter()
        w.check()
        check_s = time.perf_counter() - t0
    finally:
        stop_spark(spark)

    timed_ops = [op for lap in laps for op in lap]
    failed = sum(1 for op in timed_ops if op.error is not None or op.name in w.bad)
    if not args.trace:
        units = {"setup_s": "s", "ops_per_s": "1/s"}
        metrics = {"setup_s": setup_s, "ops_per_s": ops_per_s(laps)}
    print(
        f"# {args.workload} seed={args.seed} parallelism={parallelism} order={order} "
        f"warm-up {warmup_s:.2f} s ({[round(o.seconds, 2) for o in warm]}), "
        f"{len(laps)} timed laps {[[round(o.seconds, 2) for o in lap] for lap in laps]}, "
        f"{len(timed_ops)} ops, {failed} failed; "
        f"inputs {inputs_s:.2f} s, session {get_spark_s:.2f} s, check {check_s:.2f} s",
    )
    return {
        "correct": failed == 0 and not w.bad and all(o.error is None for o in warm),
        "attempted": len(timed_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def traced_window(w, spark, order, n_laps: int, run_op):
    """``n_laps`` untraced and ``n_laps`` traced laps, alternating, so both
    sides are equally warm.  Traced laps wrap the layers in
    ``layers.WRAPPED`` wherever the engine's modules bind them."""
    tracer = spans.Tracer(spark)
    wrappers = []
    for module, fn, attrs in layers.WRAPPED:
        original = getattr(__import__(f"{PACKAGE}.{module}", fromlist=[fn]), fn)
        wrappers.append((original, tracer.wrap(f"{module}.{fn}", original, attrs)))
    op_ids: list[int] = []

    def traced_op(name):
        tracer.op = len(op_ids)
        op_ids.append(tracer.op)
        op = timed(name, lambda: w.traced_op(name, tracer))
        w.after_op(op)
        return op

    def traced_lap():
        patched = []
        try:
            for original, wrapper in wrappers:
                patched += spans.patch_module_functions(PACKAGE, original, wrapper)
            return [traced_op(name) for name in order]
        finally:
            spans.restore(patched)

    untraced, traced = [], []
    for _ in range(n_laps):
        untraced.append([run_op(name) for name in order])
        traced.append(traced_lap())
    ids = iter(op_ids)
    return untraced, traced, tracer, [[next(ids) for _ in lap] for lap in traced]


def ops_per_s(laps) -> float:
    """Completed operations per second of the median lap: a lap that a
    burst of load on the host slowed does not move it."""
    return statistics.median(
        sum(op.error is None for op in lap) / sum(op.seconds for op in lap) for lap in laps
    )


def write_spans(span_list, args) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump([vars(s) for s in span_list], f)
    print(f"spans written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.workload not in workloads.WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")
    sys.path.insert(1, ROOT)
    # Fails here, before any file is written, when the engine is not present.
    from java_etl_bi_generator_spark.session import get_spark

    # On SIGTERM, unwind through the finally blocks that stop Spark and
    # remove the scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    isolate(work)
    try:
        result = run(args, get_spark, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
