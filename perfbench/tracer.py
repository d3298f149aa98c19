"""Per-layer tracing for a benchmark pass, from outside the program.

Everything here observes the program through public surfaces only:

- job groups per operation phase, and the JVM status store (stage and
  job lists serialized to JSON on the JVM side, one py4j call each)
  for jobs, stages, tasks, task time, scan input, shuffle and spill;
- ``/proc`` CPU counters for the JVM, its Python worker processes
  and this driver process, plus host steal from ``/proc/stat``;
- wrappers installed on public module attributes (``load_table``,
  the ``sources.native`` loaders and ``write_submission_csv``,
  ``caching.release_managed``, the public functions of
  ``plans.bbdc``, ``plans.models.train_ensemble``) in every loaded
  module of the package that bound them;
- a counting wrapper on the py4j client, for commands sent while an
  operation is being built.

A ``Tracer`` is created per run and only while tracing is on; the
untraced passes run with none of this installed.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "bbdc20_submission_spark"
_CLK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc

def proc_cpu(pid: int) -> tuple[float, float]:
    """(own cpu seconds, reaped children cpu seconds) of ``pid``."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return (utime + stime) / _CLK, (cutime + cstime) / _CLK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # process ended while listing
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``."""
    kids = _children_map()
    found, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        found.append(p)
        stack.extend(kids.get(p, ()))
    return found


def descendants_cpu(pid: int) -> float:
    """CPU seconds of every process below ``pid``: live descendants'
    own and reaped-children time, plus ``pid``'s own reaped children."""
    total = proc_cpu(pid)[1]
    for p in descendants(pid):
        try:
            own, reaped = proc_cpu(p)
        except OSError:
            continue  # exited since the listing
        total += own + reaped
    return total


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole VM since boot. Busy is
    user, nice, system, irq and softirq time; stolen is time in which a
    vCPU was ready to run but the hypervisor ran another tenant."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / _CLK, f[7] / _CLK


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# --------------------------------------------------------------- wrapping

def _rebind(original, replacement) -> list[tuple[object, str]]:
    """Point every package-module attribute bound to ``original`` at
    ``replacement``; returns the (module, name) pairs changed."""
    changed = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PKG):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                changed.append((mod, attr))
    return changed


class _Span:
    """Call count, outermost-call seconds and, for functions whose first
    argument is a row-major matrix, rows passed in, of a set of wrapped
    functions."""

    def __init__(self, counts_rows: bool = False) -> None:
        self.calls = 0
        self.seconds = 0.0
        self.rows = 0
        self.counts_rows = counts_rows
        self._depth = threading.local()

    def wrap(self, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = getattr(self._depth, "n", 0)
            self._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth.n = depth
                self.calls += 1
                if depth == 0:
                    self.seconds += time.perf_counter() - t0
                    if self.counts_rows:
                        self.rows += len(args[0])

        return traced


class Tracer:
    """Installs the wrappers, and turns one pass of timed operations
    into the per-layer metric dict."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.spans = {
            "load": _Span(), "write": _Span(), "release": _Span(),
            "plans": _Span(), "train": _Span(counts_rows=True),
        }
        self._restore: list[tuple[object, str, object]] = []
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command
        self.py4j_sent = 0
        self._counting = False
        self._seen_job = -1

    # -- install / uninstall -------------------------------------------
    def install(self) -> None:
        from bbdc20_submission_spark import caching
        from bbdc20_submission_spark.plans import bbdc, models
        from bbdc20_submission_spark.sources import harness, native

        targets = [
            (harness.load_table, "load"),
            (native.load_labels, "load"),
            (native.load_sensor_csv_dir, "load"),
            (native.load_documents_jsonl, "load"),
            (native.write_submission_csv, "write"),
            (caching.release_managed, "release"),
            (models.train_ensemble, "train"),
        ]
        targets += [
            (fn, "plans") for name, fn in vars(bbdc).items()
            if callable(fn) and not name.startswith("_")
            and getattr(fn, "__module__", None) == bbdc.__name__
        ]
        for fn, span in targets:
            wrapper = self.spans[span].wrap(fn)
            for mod, attr in _rebind(fn, wrapper):
                self._restore.append((mod, attr, fn))

        def counting_send(*args, **kwargs):
            if self._counting:
                self.py4j_sent += 1
            return self._send(*args, **kwargs)

        self._client.send_command = counting_send
        self._seen_job = self._max_job_id()

    def uninstall(self) -> None:
        for mod, attr, fn in self._restore:
            setattr(mod, attr, fn)
        self._restore.clear()
        self._client.send_command = self._send

    # -- JVM side ----------------------------------------------------------
    def _json(self, scala_obj) -> list:
        return json.loads(self._mapper.writeValueAsString(scala_obj))

    def _drain_listener(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def _max_job_id(self) -> int:
        self._drain_listener()
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def _stages(self) -> list[dict]:
        return self._json(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def _gc_ms(self) -> int:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans)

    def cache_state(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        rdds = self._json(self._store.rddList(True))
        return (
            len(rdds),
            sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds),
        )

    # -- one pass --------------------------------------------------------
    def pass_start(self) -> dict:
        for span in self.spans.values():
            span.calls, span.seconds, span.rows = 0, 0.0, 0
        self.py4j_sent = 0
        self._phases: list[tuple[str, str, float, float]] = []
        self._persist_peak = (0, 0)
        return {
            "jvm_cpu": proc_cpu(self.jvm_pid)[0],
            "workers_cpu": descendants_cpu(self.jvm_pid),
            "driver_cpu": sum(os.times()[:2]),
            "steal": host_cpu_s()[1],
            "gc_ms": self._gc_ms(),
        }

    def phase(self, op: str, phase: str):
        """Context manager for one phase ('build' or 'force') of one op."""
        return _Phase(self, op, phase)

    def op_done(self) -> None:
        rdds, cached = self.cache_state()
        self._persist_peak = (
            max(self._persist_peak[0], rdds),
            max(self._persist_peak[1], cached),
        )

    def pass_end(self, start: dict, wall_s: float) -> dict:
        cpu_end = {
            "jvm_cpu": proc_cpu(self.jvm_pid)[0],
            "workers_cpu": descendants_cpu(self.jvm_pid),
            "driver_cpu": sum(os.times()[:2]),
            "steal": host_cpu_s()[1],
            "gc_ms": self._gc_ms(),
        }
        self._drain_listener()
        jobs = [j for j in self._jobs() if j["jobId"] > self._seen_job]
        self._seen_job = max([self._seen_job, *(j["jobId"] for j in jobs)])
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._stages()
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]

        build_windows = [(t0, t1) for _, ph, t0, t1 in self._phases if ph == "build"]
        build_jobs = sum(
            1 for j in jobs
            if any(t0 <= j["submissionTime"] / 1000.0 <= t1 for t0, t1 in build_windows)
        )
        intervals = sorted(
            (j["submissionTime"], j.get("completionTime") or j["submissionTime"])
            for j in jobs
        )
        busy_ms, cur_lo, cur_hi = 0, None, None
        for lo, hi in intervals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy_ms += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy_ms += cur_hi - cur_lo
        busy_s = busy_ms / 1000.0

        def total(key: str) -> float:
            return sum(s.get(key, 0) for s in stages)

        phase_s = defaultdict(float)
        for _, ph, t0, t1 in self._phases:
            phase_s[ph] += t1 - t0
        return {
            "sources.load_calls": self.spans["load"].calls,
            "sources.load_s": self.spans["load"].seconds,
            "sources.input_bytes": total("inputBytes"),
            "sources.input_rows": total("inputRecords"),
            "sources.write_s": self.spans["write"].seconds,
            "queries.build_s": phase_s["build"],
            "queries.build_jobs": build_jobs,
            "queries.py4j_calls": self.py4j_sent,
            "exec.force_s": phase_s["force"],
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": total("numCompleteTasks"),
            "exec.busy_s": busy_s,
            "exec.driver_gap_s": wall_s - busy_s,
            "exec.task_run_s": total("executorRunTime") / 1000.0,
            "exec.task_cpu_s": total("executorCpuTime") / 1e9,
            "exec.gc_s": (cpu_end["gc_ms"] - start["gc_ms"]) / 1000.0,
            "exec.jvm_cpu_s": cpu_end["jvm_cpu"] - start["jvm_cpu"],
            "exec.shuffle_read_bytes": total("shuffleReadBytes"),
            "exec.shuffle_write_bytes": total("shuffleWriteBytes"),
            "exec.spill_bytes": total("diskBytesSpilled"),
            "functions.pyworker_cpu_s": cpu_end["workers_cpu"] - start["workers_cpu"],
            "caching.release_s": self.spans["release"].seconds,
            "caching.persisted_rdds_peak": self._persist_peak[0],
            "caching.cached_bytes_peak": self._persist_peak[1],
            "plans.build_s": self.spans["plans"].seconds,
            "plans.train_s": self.spans["train"].seconds,
            "plans.train_rows": self.spans["train"].rows,
            "driver.py_cpu_s": cpu_end["driver_cpu"] - start["driver_cpu"],
            "host.steal_s": cpu_end["steal"] - start["steal"],
        }


class _Phase:
    def __init__(self, tracer: Tracer, op: str, phase: str) -> None:
        self.tracer, self.op, self.phase = tracer, op, phase

    def __enter__(self):
        self.tracer.sc.setJobGroup(f"perfbench.{self.op}.{self.phase}", self.op)
        self.t0 = time.time()
        self.tracer._counting = self.phase == "build"
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._counting = False
        self.tracer._phases.append((self.op, self.phase, self.t0, time.time()))
