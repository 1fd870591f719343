"""Outside-in layer trace for the benchmark's traced runs.

Nothing here changes the engine.  The tracer

* counts py4j commands at the py4j client boundary, leaving out the
  garbage-collection detach commands py4j sends on its own;
* wraps two public package functions where every package module sees them
  (``operators.core.coarse_materialize`` and ``session.clone_session``) to
  count calls and time them;
* attributes Spark jobs to an entry by time window: the jobs whose ids are new
  in the status store across the entry's window, whichever thread ran them
  (streaming micro-batches run on stream threads, so job groups miss them);
* reads stage and task metrics from the status store, and the JVM's disk I/O
  from ``/proc/<jvm pid>/io``, after each entry and outside its timing.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager

#: py4j's garbage-collection detach command (``m`` + ``d`` subcommand)
_GC_DETACH_PREFIX = "m\nd\n"
_MAX_TASKS = 2**31 - 1


class Py4jCounter:
    """Counts commands sent through one py4j gateway client."""

    def __init__(self, client) -> None:
        self.count = 0
        self._lock = threading.Lock()
        send = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(_GC_DETACH_PREFIX):
                with self._lock:
                    self.count += 1
            return send(command, *args, **kwargs)

        client.send_command = counted


class CallStat:
    """Calls to one wrapped function and the time spent in them."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0

    def wrap(self, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self.calls += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0

        return timed


def wrap_everywhere(module, attr: str, stat: CallStat) -> None:
    """Replace ``module.attr`` by a timed wrapper in every package module that
    holds a reference to the original function."""
    orig = getattr(module, attr)
    timed = stat.wrap(orig)
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if name.startswith("spj_query_engine_spark") and getattr(mod, attr, None) is orig:
            setattr(mod, attr, timed)


def _percentile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


class Tracer:
    def __init__(self, spark, cores: int) -> None:
        from spj_query_engine_spark import session
        from spj_query_engine_spark.operators import core

        self.cores = cores
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._empty = jvm.java.util.Collections.emptyList()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._jvm = jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.py4j = Py4jCounter(sc._gateway._gateway_client)
        self.coarse = CallStat()
        self.clone = CallStat()
        wrap_everywhere(core, "coarse_materialize", self.coarse)
        wrap_everywhere(session, "clone_session", self.clone)
        self.spans: list[dict] = []
        self.entries: list[dict] = []

    # -- status store ------------------------------------------------------
    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _max_job_id(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._json(self._store.jobsList(self._empty))
        return max((j["jobId"] for j in jobs), default=-1)

    def _io(self) -> dict[str, int]:
        out = {}
        with open(f"/proc/{self.jvm_pid}/io") as fh:
            for line in fh:
                key, _, val = line.partition(":")
                out[key] = int(val)
        return out

    def _job_metrics(self, first: int, last: int) -> dict:
        stages: dict[int, dict] = {}
        submitted = []
        for job_id in range(first, last + 1):
            try:
                job = self._json(self._store.job(job_id))
            except Exception:  # noqa: BLE001 - evicted or never registered
                continue
            submitted.append((job.get("submissionTime") or 0) / 1000.0)
            for sid in job["stageIds"]:
                if sid in stages:
                    continue
                try:
                    stage = self._json(self._store.lastStageAttempt(sid))
                except Exception:  # noqa: BLE001 - stage never submitted
                    continue
                if stage["status"] != "COMPLETE":
                    continue
                tasks = self._json(
                    self._store.taskList(sid, stage["attemptId"], _MAX_TASKS)
                )
                stage["task_s"] = [t.get("duration", 0) / 1000.0 for t in tasks]
                stage["sched_ms"] = sum(
                    t.get("schedulerDelay", 0)
                    + t.get("taskMetrics", {}).get("executorDeserializeTime", 0)
                    for t in tasks
                )
                stages[sid] = stage
        st = list(stages.values())
        ratios = [
            max(s["task_s"]) / statistics.median(s["task_s"])
            for s in st
            if len(s["task_s"]) >= 2 and statistics.median(s["task_s"]) > 0
        ]
        return {
            "jobs": max(0, last - first + 1),
            "stages": len(st),
            "tasks": sum(len(s["task_s"]) for s in st),
            "sched.delay_s": sum(s["sched_ms"] for s in st) / 1000.0,
            "executor.run_s": sum(s["executorRunTime"] for s in st) / 1000.0,
            "executor.cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "executor.gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
            "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in st),
            "straggler_ratios": ratios,
            "task_durations": [d for s in st for d in s["task_s"]],
            "job_submit_times": submitted,
        }

    # -- entry windows -----------------------------------------------------
    @contextmanager
    def entry(self, name: str, pass_no: int):
        """Trace one entry run.  Yields a ``span(layer)`` factory for the
        entry's steps; everything the tracer reads happens outside them."""
        rec = {"entry": name, "pass": pass_no, "layers": {}, "py4j": {}, "ends": {}}
        entry_id = len(self.entries)
        first_job = self._max_job_id() + 1
        io0 = self._io()
        coarse0 = (self.coarse.calls, self.coarse.seconds)
        clone0 = (self.clone.calls, self.clone.seconds)

        @contextmanager
        def span(layer: str):
            c0 = self.py4j.count
            t0 = time.time()
            try:
                yield
            finally:
                t1 = time.time()
                calls = self.py4j.count - c0
                rec["layers"][layer] = rec["layers"].get(layer, 0.0) + (t1 - t0)
                rec["py4j"][layer] = rec["py4j"].get(layer, 0) + calls
                rec["ends"][layer] = t1
                self.spans.append({
                    "id": f"{entry_id}.{layer}", "parent": entry_id, "name": layer,
                    "start": t0, "end": t1, "py4j_calls": calls,
                })

        t_start = time.time()
        try:
            yield span
        finally:
            t_end = time.time()
            io1 = self._io()
            rec.update(self._job_metrics(first_job, self._max_job_id()))
            build_end = rec["ends"].get("build", rec["ends"].get("plans.build_plan", 0.0))
            rec["build.jobs"] = sum(1 for t in rec.pop("job_submit_times") if t <= build_end)
            rec["wall_s"] = sum(rec["layers"].values())
            rec["io.read_bytes"] = io1["read_bytes"] - io0["read_bytes"]
            rec["io.write_bytes"] = io1["write_bytes"] - io0["write_bytes"]
            rec["coarse.calls"] = self.coarse.calls - coarse0[0]
            rec["coarse_s"] = self.coarse.seconds - coarse0[1]
            rec["session.clone_calls"] = self.clone.calls - clone0[0]
            rec["session.clone_s"] = self.clone.seconds - clone0[1]
            self.entries.append(rec)
            self.spans.append({
                "id": entry_id, "parent": None, "name": name, "pass": pass_no,
                "start": t_start, "end": t_end,
            })

    # -- end of run --------------------------------------------------------
    def jvm_memory_mb(self) -> tuple[float, float]:
        """(peak RSS of the JVM, heap in use after a forced GC), in MiB."""
        peak_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    peak_kb = int(line.split()[1])
        self._jvm.java.lang.System.gc()
        heap = (
            self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed()
        )
        return peak_kb / 1024.0, heap / 2**20

    def pass_metrics(self, pass_no: int) -> dict[str, float]:
        """Per-layer totals over the entries of one traced pass."""
        recs = [r for r in self.entries if r["pass"] == pass_no]

        def total(key):
            return sum(r.get(key, 0) for r in recs)

        def layer(name):
            return sum(r["layers"].get(name, 0.0) for r in recs)

        def calls(name):
            return sum(r["py4j"].get(name, 0) for r in recs)

        wall = total("wall_s")
        run_s = total("executor.run_s")
        cpu_s = total("executor.cpu_s")
        durations = [d for r in recs for d in r["task_durations"]]
        ratios = [x for r in recs for x in r["straggler_ratios"]]
        return {
            "dialect.parse_s": layer("dialect.parse"),
            "catalog.load_tables_s": layer("catalog.load_tables"),
            "catalog.py4j_calls": calls("catalog.load_tables"),
            "plans.build_plan_s": layer("plans.build_plan"),
            "plans.py4j_calls": calls("plans.build_plan"),
            "catalyst.plan_s": layer("catalyst.plan"),
            "build_s": layer("build"),
            "build.py4j_calls": calls("build"),
            "build.jobs": total("build.jobs"),
            "exec_s": layer("exec"),
            "exec.py4j_calls": calls("exec"),
            "coarse.calls": total("coarse.calls"),
            "coarse_s": total("coarse_s"),
            "session.clone_calls": total("session.clone_calls"),
            "session.clone_s": total("session.clone_s"),
            "jobs": total("jobs"),
            "stages": total("stages"),
            "tasks": total("tasks"),
            "sched.delay_s": total("sched.delay_s"),
            "executor.run_s": run_s,
            "executor.cpu_s": cpu_s,
            "executor.gc_s": total("executor.gc_s"),
            "executor.offcpu_s": max(0.0, run_s - cpu_s),
            "executor.busy_frac": run_s / (wall * self.cores) if wall else 0.0,
            "task_s.p50": _percentile(durations, 0.50),
            "task_s.p95": _percentile(durations, 0.95),
            "straggler.max_ratio": max(ratios, default=1.0),
            "shuffle.read_bytes": total("shuffle.read_bytes"),
            "shuffle.write_bytes": total("shuffle.write_bytes"),
            "spill_bytes": total("spill_bytes"),
            "io.read_bytes": total("io.read_bytes"),
            "io.write_bytes": total("io.write_bytes"),
        }

    def dump(self, path: str, extra: dict) -> None:
        entries = [
            {k: v for k, v in r.items() if k not in ("task_durations", "straggler_ratios")}
            for r in self.entries
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "entries": entries, "spans": self.spans}, fh, indent=1)
