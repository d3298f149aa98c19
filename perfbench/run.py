"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run:

1. for ``bbdc_train``, generates the native CSV tree from ``--seed``
   and its expected outputs, in a child process, under
   ``.perfbench_work/``; the query workloads read ``perfbench/data``;
2. sets the program up once from cold: launches the JVM and the
   session (``get_spark``), ships the package, fills the schema caches
   and runs one trivial job. That is ``setup_s``;
3. runs every operation once and checks its output (untimed). This is
   also the first, cold run of every operation in the fresh JVM. Then
   waits until the JVM is idle (``settle``);
4. runs timed passes over the operations, each in a seed-permuted
   order, until ``--seconds`` have passed and at least two passes ran;
5. with ``--trace 1``, runs untraced and traced passes in ABBA order
   (at least two pairs), and reports the per-layer metrics of the
   traced passes (medians per pass) plus the tracing overhead.

Every reported time has the hypervisor's steal taken out (``unstolen``):
on a shared host, other tenants' load otherwise moves pass times by
50% or more from one run to the next. The raw times are in the detail
record.

The program runs with its own defaults: no ``SPARK_GRAFT_*`` variable
is set. Scratch files (Spark local dirs, temp files) stay under
``.perfbench_work/`` and are removed at exit. The last stdout line is
the JSON result; the line before it is a JSON detail record (host
facts, effective Spark conf, input sizes, per-operation times).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 2
MIN_TRACED_PAIRS = 2
SETTLE_MAX_S = 10.0
SETTLE_TICK_S = 0.25
IDLE_CORES = 0.1  # JVM CPU use, in cores, below which it counts as idle
CONF_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.join.preferSortMergeJoin",
    "spark.default.parallelism",
)


class Pass(NamedTuple):
    wall: float  # seconds
    times: dict  # {op: seconds}
    failures: int
    layers: dict | None  # per-layer metrics of a traced pass
    unstolen_wall: float  # ``wall`` with the hypervisor's steal taken out
    unstolen_times: dict


def unstolen(seconds: float, start: tuple, end: tuple) -> float:
    """``seconds`` of wall time without the share the hypervisor held
    back. Between the ``host_cpu_s`` readings ``start`` and ``end`` the
    vCPUs were denied stolen / (busy + stolen) of the time they were
    ready to run; every thread on the critical path waited that share
    too, so on an unshared host the interval takes that much less."""
    busy, stolen = end[0] - start[0], end[1] - start[1]
    return seconds * (1 - stolen / (busy + stolen)) if busy + stolen > 0 else seconds


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--prepare-into", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024),
        "python": sys.version.split()[0],
    }


def prepare(args, work: str) -> dict:
    """Input sizes; for ``bbdc_train``, first generate the inputs and
    expected outputs in a child process."""
    from perfbench import workloads

    if workloads.WORKLOADS[args.workload][0] == "tables":
        return workloads.table_sizes()
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0", "--prepare-into", work],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"input generation failed:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    from perfbench.tracer import descendants

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_pass(spark, ops, rng, tracer=None) -> Pass:
    """One pass over ``ops`` in a random order."""
    from perfbench.tracer import host_cpu_s

    order = list(ops)
    rng.shuffle(order)
    times, unstolen_times, failures = {}, {}, 0
    start = tracer.pass_start() if tracer else None
    cpu_pass = host_cpu_s()
    t_pass = time.perf_counter()
    for op in order:
        cpu0 = host_cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer:
                with tracer.phase(op.name, "build"):
                    obj = op.build(spark)
                with tracer.phase(op.name, "force"):
                    op.force(obj)
            else:
                op.force(op.build(spark))
        except Exception as exc:  # a failing op is counted, the pass goes on
            failures += 1
            print(f"perfbench: {op.name} failed: {exc!r}"[:2000], file=sys.stderr)
        times[op.name] = time.perf_counter() - t0
        unstolen_times[op.name] = unstolen(times[op.name], cpu0, host_cpu_s())
        if tracer:
            tracer.op_done()
    wall = time.perf_counter() - t_pass
    unstolen_wall = unstolen(wall, cpu_pass, host_cpu_s())
    layers = tracer.pass_end(start, wall) if tracer else None
    return Pass(wall, times, failures, layers, unstolen_wall, unstolen_times)


def settle(jvm_pid: int, max_s: float = SETTLE_MAX_S) -> float:
    """Wait until the JVM is idle (JIT compiler and GC threads included),
    so that a timed pass does not share the cores with compilation
    queued by the pass before it; returns the seconds waited."""
    from perfbench.tracer import proc_cpu

    t0 = time.perf_counter()
    cpu = proc_cpu(jvm_pid)[0]
    while time.perf_counter() - t0 < max_s:
        time.sleep(SETTLE_TICK_S)
        now = proc_cpu(jvm_pid)[0]
        if now - cpu < IDLE_CORES * SETTLE_TICK_S:
            break
        cpu = now
    return time.perf_counter() - t0


def timed_passes(spark, ops, rng, seconds):
    passes = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(spark, ops, rng))
    return passes


def traced_passes(spark, ops, rng, seconds):
    """Untraced and traced passes in ABBA order (plain, traced, traced,
    plain, ...), so that pass times still falling with JIT warm-up
    weigh on both sides of the tracing-overhead estimate."""
    from perfbench.tracer import Tracer

    tracer = Tracer(spark)
    plain, traced = [], []
    t0 = time.perf_counter()
    while len(traced) < MIN_TRACED_PAIRS or time.perf_counter() - t0 < seconds:
        for is_traced in (False, True) if len(traced) % 2 == 0 else (True, False):
            if not is_traced:
                plain.append(run_pass(spark, ops, rng))
                continue
            tracer.install()
            try:
                traced.append(run_pass(spark, ops, rng, tracer))
            finally:
                tracer.uninstall()
    return plain, traced


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import workloads
    from perfbench.tracer import host_cpu_s, vm_hwm_kb

    t_start = time.perf_counter()
    sizes = prepare(args, work)
    phase_s = {"prepare": time.perf_counter() - t_start}
    detail = {"workload": args.workload, "seed": args.seed, "host": host_facts(),
              "inputs": sizes}

    from bbdc20_submission_spark import registry
    from bbdc20_submission_spark.session import ensure_package_shipped, get_spark

    registry.load_all()
    spark = None
    try:
        cpu0 = host_cpu_s()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        ensure_package_shipped(spark)
        workloads.warm(spark, args.workload)
        setup_s = time.perf_counter() - t0
        unstolen_setup_s = unstolen(setup_s, cpu0, host_cpu_s())
        phase_s["setup"] = time.perf_counter() - t_start - phase_s["prepare"]
        conf = spark.sparkContext.getConf()
        detail["spark_conf"] = {k: conf.get(k, None) for k in CONF_KEYS}
        ops = workloads.make_ops(args.workload, work)
        rng = random.Random(args.seed)

        attempted = failed = 0
        # untimed verification pass, in the declared order: the first
        # queries a fresh JVM runs steer what its JIT compiles, so this
        # pass is the same on every seed
        for op in ops:
            attempted += 1
            try:
                op.verify(spark)
            except Exception as exc:
                failed += 1
                print(f"perfbench: {op.name} wrong: {exc!r}"[:2000], file=sys.stderr)

        phase_s["verify"] = time.perf_counter() - t_start - sum(phase_s.values())
        jvm_pid = spark.sparkContext._gateway.proc.pid
        phase_s["settle"] = settle(jvm_pid)
        cpu0 = host_cpu_s()
        if args.trace:
            passes, traced = traced_passes(spark, ops, rng, args.seconds)
        else:
            passes, traced = timed_passes(spark, ops, rng, args.seconds), []
        for p in passes + traced:
            attempted += len(p.times)
            failed += p.failures

        peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
        phase_s["timed"] = time.perf_counter() - t_start - sum(phase_s.values())
        detail["timed_stolen_s"] = host_cpu_s()[1] - cpu0[1]
    finally:
        shutdown(spark)
    phase_s["shutdown"] = time.perf_counter() - t_start - sum(phase_s.values())

    per_op = {
        op.name: statistics.median(p.unstolen_times[op.name] for p in passes)
        for op in ops
    }
    walls = [p.unstolen_wall for p in passes]
    detail.update(
        peak_rss_mb=peak_rss_mb, phase_s=phase_s, passes=len(passes),
        pass_walls_s=[p.wall for p in passes], unstolen_pass_walls_s=walls,
        raw_setup_s=setup_s, op_median_s=per_op,
    )
    if args.trace:
        layer_keys = traced[0].layers.keys()
        metrics = {
            k: statistics.median(p.layers[k] for p in traced)
            if not k.endswith("_peak") else max(p.layers[k] for p in traced)
            for k in layer_keys
        }
        metrics["trace.overhead_s"] = (
            statistics.median(p.unstolen_wall for p in traced) - statistics.median(walls)
        )
        detail["traced_passes"] = len(traced)
    else:
        metrics = {
            "setup_s": unstolen_setup_s,
            "wall_s": statistics.median(walls),
            "query_geomean_s": math.exp(
                statistics.fmean(math.log(t) for t in per_op.values())
            ),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    return detail, result


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("_bytes_peak"):
        return "bytes"
    return "count"


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "bbdc20_submission_spark")):
        print(
            "perfbench: the bbdc20_submission_spark package was not found next to "
            "perfbench/; run from a full checkout of the repository",
            file=sys.stderr,
        )
        return 2
    args = parse_args(argv)
    for name in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[name]  # measure the program's own defaults
    if args.prepare_into:
        from perfbench import workloads

        print(json.dumps(workloads.prepare_bbdc(args.seed, args.prepare_into)))
        return 0

    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep the JVM's temp files, and its perf-data file, out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
