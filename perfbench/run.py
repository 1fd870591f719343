#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload spj_dialect --seed 1 --seconds 12 --trace 0

A run writes its input tables once per checkout (``datagen.py``), then
starts a fresh measuring process (``worker.py``): session set-up, a cold
pass, two settling passes, warm passes for ``--seconds`` (closed loop, one
client), then one output check per entry against DuckDB.  ``--trace 1``
prints the per-layer metrics instead of the end-to-end ones.  The last line
of standard output is the result JSON; the lines before it are a readable
report.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "spj_query_engine_spark"

#: input scale: sf 0.01 (60k lineitem rows, 10k events, 500 embeddings)
SF = 0.01
#: a run that has not finished by then is stopped and fails
DEADLINE_S = 170.0

#: the gated end-to-end metrics.  Apart from set-up, they are CPU seconds
#: used by the run's processes (this client, the JVM, Spark's Python
#: workers): on a shared VM the wall time of identical runs moves 1.3-1.8x
#: with the host's load, far past any bound a gate can use, their CPU
#: seconds much less (see README.md, "CPU seconds and wall time").
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "query_cpu_s.geomean": "s",
}
#: printed with their sample counts, not gated: the wall-clock twins, and
#: the tails, which on a workload of three entries are a percentile of a
#: mixture of three entry sizes rather than a tail (README.md)
REPORTED = {
    "first_pass_s": "s",
    "pass_s": "s",
    "query_s.geomean": "s",
    "query_cpu_s.tail": "s",
    "query_s.tail": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "dialect.parse_s": "s",
    "catalog.load_tables_s": "s",
    "catalog.py4j_calls": "count",
    "plans.build_plan_s": "s",
    "plans.py4j_calls": "count",
    "catalyst.plan_s": "s",
    "build_s": "s",
    "build.py4j_calls": "count",
    "build.jobs": "count",
    "coarse.calls": "count",
    "coarse_s": "s",
    "session.clone_calls": "count",
    "session.clone_s": "s",
    "exec_s": "s",
    "exec.py4j_calls": "count",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "sched.delay_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.offcpu_s": "s",
    "executor.busy_frac": "ratio",
    "task_s.p50": "s",
    "task_s.p95": "s",
    "straggler.max_ratio": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill_bytes": "bytes",
    "io.read_bytes": "bytes",
    "io.write_bytes": "bytes",
    "session.jvm_peak_rss_mb": "MB",
    "session.live_heap_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores() -> int:
    return len(os.sched_getaffinity(0))


#: this run's scratch space (Spark local dirs, temporary files, checkpoints)
SCRATCH = os.path.join(WORK, f"run-{os.getpid()}")


def child_env() -> dict[str, str]:
    """Environment for the measuring processes.  The package goes on the
    Python path before the JVM starts, so Spark's Python workers import it
    from any working directory; temporary files stay in the work dir."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH", "")) if p
    )
    env["TMPDIR"] = os.path.join(SCRATCH, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    # the package's 16g default heap would exceed the memory of a small
    # shared machine; a run's JVM peaks at 1-2.5 GB of RSS at this scale
    env["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    env["PYTHONWARNINGS"] = "ignore::FutureWarning"
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process the child started (its JVM, Python workers), wait
    until the whole process group has ended, and remove what the stopped JVM
    left in the work dir.  The worker has written its result before it exits,
    so nothing measured is lost."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.02)
    shutil.rmtree(SCRATCH, ignore_errors=True)


_CHILD: dict[str, subprocess.Popen] = {}


def _on_signal(signum, _frame) -> None:
    """Stopped from outside: stop the running child's processes first."""
    if "proc" in _CHILD:
        _stop_group(_CHILD["proc"])
    sys.exit(128 + signum)


def run_worker(args: list[str], log_path: str, deadline: float) -> dict:
    out_path = os.path.join(WORK, f"result-{os.getpid()}.json")
    env = child_env()
    if os.path.exists(out_path):
        os.remove(out_path)
    with open(log_path, "a") as log:
        t0 = time.time()
        proc = _CHILD["proc"] = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--t0", repr(t0),
             "--out", out_path, *args],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=SCRATCH,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        fail(f"worker {'timed out' if code is None else f'exited {code}'}; log tail:\n{tail}", 3)
    with open(out_path) as fh:
        result = json.load(fh)
    os.remove(out_path)
    result["wall_s"] = time.time() - t0
    print(f"perfbench: measuring process took {result['wall_s']:.1f} s", file=sys.stderr)
    return result


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and that
    percentile; the maximum when there are too few samples for one."""
    ordered = sorted(samples)
    n = len(ordered)
    if not ordered:
        return math.nan, math.nan
    if n < 11:
        return ordered[-1], 100.0
    return ordered[n - 11], 100.0 * (n - 10) / n


def _geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        return math.nan
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _timings(prefix: str, first: float, passes: list[float], per_entry: dict) -> tuple:
    """A pass-and-entry timing family: values and sample counts."""
    pooled = [x for v in per_entry.values() for x in v]
    tail, pct = tail_latency(pooled)
    values = {
        f"first_pass{prefix}": first,
        f"pass{prefix}": statistics.median(passes) if passes else math.nan,
        f"query{prefix}.geomean": _geomean(
            [statistics.median(v) for v in per_entry.values() if v]
        ),
        f"query{prefix}.tail": tail,
    }
    samples = {
        f"first_pass{prefix}": 1,
        f"pass{prefix}": len(passes),
        f"query{prefix}.geomean": len(pooled),
        f"query{prefix}.tail": f"{len(pooled)} (p{pct:.1f})",
    }
    return values, samples


def end_to_end(res: dict) -> tuple[dict, dict]:
    values = {"setup_s": res["setup_s"]}
    samples = {"setup_s": 1}
    for prefix, first, passes, per_entry in (
        ("_cpu_s", res["first_pass_cpu_s"], res["warm_cpu_passes"], res["warm_cpu"]),
        ("_s", res["first_pass_s"], res["warm_passes"], res["warm_latencies"]),
    ):
        v, n = _timings(prefix, first, passes, per_entry)
        values.update(v)
        samples.update(n)
    return values, samples


def main() -> int:
    import workloads

    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="input scale (self-test only)")
    ap.add_argument("--inject-failure", metavar="ENTRY", help="self-test only: "
                    "make ENTRY raise on every run")
    ap.add_argument("--alter-result", metavar="ENTRY", help="self-test only: "
                    "drop a row of ENTRY's result before the output check")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        fail(f"package {PACKAGE}/ not found next to perfbench/; run from a full checkout")
    import datagen

    os.makedirs(WORK, exist_ok=True)
    data_dir = datagen.ensure_data(os.path.join(WORK, "data"), args.sf)
    log_dir = os.path.join(WORK, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    common = ["--data", data_dir, "--scratch", SCRATCH, "--cores", str(cores())]

    main_args = [*common, "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.inject_failure:
        main_args += ["--inject-failure", args.inject_failure]
    if args.alter_result:
        main_args += ["--alter-result", args.alter_result]
    res = run_worker(main_args, log_path, deadline)
    with open(log_path[:-4] + ".json", "w") as fh:
        json.dump(res, fh, indent=1)

    check = res["check"]
    correct = not check["wrong"] and not check["failed"]
    print(f"workload {args.workload}  seed {args.seed}  cores {cores()}  sf {args.sf:g}  "
          f"entries {len(res['entries'])}  warm window {res['measured_s']:.1f} s  "
          f"output check {res['check_s']:.1f} s  cpu steal {res['steal_frac']:.1%}")
    print(f"  {'failed_frac':<26}{res['failed'] / res['attempted']:>12.4f}  ratio  "
          f"({res['failed']} of {res['attempted']} entry runs raised)")
    print(f"  {'wrong_results':<26}{len(check['wrong']):>12d}  count  "
          f"(of {len(res['entries'])} entries checked against DuckDB)")
    for name, why in {**res["failures"], **check["detail"]}.items():
        print(f"    {name}: {why}")
    print(f"  {'entry':<26}{'cold s':>8}{'warm s':>8}{'cold cpu s':>12}{'warm cpu s':>12}  n")
    for name, lat in res["warm_latencies"].items():
        cold = res["cold"].get(name, (math.nan, math.nan))
        cpu = res["warm_cpu"][name]
        med, med_cpu = (statistics.median(lat), statistics.median(cpu)) if lat else (math.nan,) * 2
        print(f"  {name:<26}{cold[0]:>8.3f}{med:>8.3f}{cold[1]:>12.2f}{med_cpu:>12.2f}  {len(lat)}")
    if args.trace:
        values = res["layers"]
        units = PER_LAYER
        print(f"  trace file: {os.path.relpath(res['trace_file'], ROOT)}")
        for name, unit in units.items():
            print(f"  {name:<26}{values[name]:>12.4f}  {unit}")
    else:
        values, samples = end_to_end(res)
        units = END_TO_END
        for name, unit in {**units, **REPORTED}.items():
            note = "" if name in units else "  (not gated)"
            print(f"  {name:<26}{values[name]:>12.4f}  {unit:<6} n={samples[name]}{note}")
    bad = [k for k in units if not math.isfinite(values[k])]
    if bad:
        fail(f"no measurement for {', '.join(bad)}: no entry run succeeded", 3)
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
