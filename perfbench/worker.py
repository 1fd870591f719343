"""One benchmark process: set up a session, run the passes, check outputs.

Started by ``run.py`` in a fresh process for every run, so every run pays
its own session set-up, cold pass and lazy caches.  The result goes to
``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: after the cold pass, settling passes run unreported: the JVM is still
#: compiling the code the cold pass loaded, and the first pass after it runs
#: ~20% slow in wall time and ~40% high in CPU, the second still ~15% high
SETTLING_PASSES = 2
#: then warm passes run until ``--seconds`` have passed and at least this
#: many ran, so medians are of settled passes
MIN_WARM_PASSES = 5
#: traced runs: after the settling passes, passes run traced, untraced,
#: untraced, traced, ...; the traced/untraced medians give the tracing
#: overhead
MIN_TRACED_PASSES = 2


def start_session(cores: int, scratch: str, trace: bool):
    from spj_query_engine_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    conf = {
        # keep every file Spark writes inside the benchmark's work dir
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the traced run reads jobs and tasks back from the status store
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


class Runner:
    """Runs entries; times them, and traces them when a tracer is set."""

    def __init__(self, spark, data_dir: str, inject_failure: str | None) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.inject_failure = inject_failure
        self.tracer = None

    def build(self, entry, span):
        """The entry's lazy DataFrame, built through the package's layers."""
        if entry.name == self.inject_failure:
            raise RuntimeError(f"injected failure in {entry.name}")
        if entry.dialect is None:
            from spj_query_engine_spark.workload import REGISTRY

            with span("build"):
                return REGISTRY[entry.name].fn(self.spark, self.data_dir)
        from spj_query_engine_spark.catalog import load_tables
        from spj_query_engine_spark.dialect import parse
        from spj_query_engine_spark.plans import build_plan

        with span("dialect.parse"):
            query = parse(entry.dialect)
        names = tuple(sorted(set(query.from_list) | {j.table for j in query.joins}))
        with span("catalog.load_tables"):
            tables = load_tables(self.spark, self.data_dir, names)
        with span("plans.build_plan"):
            return build_plan(self.spark, tables, query)

    def run(self, entry, pass_no: int, traced: bool) -> tuple[float, float]:
        """Run ``entry`` once to the noop sink; returns its latency and the
        CPU seconds it used."""
        cpu0 = session_cpu_s()
        if traced:
            with self.tracer.entry(entry.name, pass_no) as span:
                df = self.build(entry, span)
                with span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with span("exec"):
                    df.write.format("noop").mode("overwrite").save()
            latency = self.tracer.entries[-1]["wall_s"]
        else:
            t0 = time.perf_counter()
            df = self.build(entry, _no_span)
            df.write.format("noop").mode("overwrite").save()
            latency = time.perf_counter() - t0
        cpu = session_cpu_s() - cpu0
        self.spark.catalog.clearCache()
        gc.collect()
        return latency, cpu


def _no_span(_layer: str) -> contextlib.nullcontext:
    return contextlib.nullcontext()


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by every process of this
    session: this client, the JVM and Spark's Python workers, with their
    reaped children.  Time the hypervisor stole is not in it."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listed
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def check_outputs(runner: Runner, entries, alter_result: str | None) -> dict:
    """Compare each entry's result once with its DuckDB oracle over the same
    files.  Outside all timing; nothing is ever re-run."""
    import duckdb

    from spj_query_engine_spark.testing import compare_frames

    def oracles() -> dict:
        con = duckdb.connect()
        for fn in sorted(os.listdir(runner.data_dir)):
            if fn.endswith(".parquet"):
                path = os.path.join(runner.data_dir, fn)
                con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for e in entries:
            try:
                out[e.name] = con.execute(e.oracle).fetch_df()
            except Exception as exc:  # noqa: BLE001 - reported with its entry
                out[e.name] = exc
        con.close()
        return out

    # DuckDB computes the expected results on a thread while Spark computes
    # the actual ones; neither side is timed
    with ThreadPoolExecutor(1) as pool:
        expected_all = pool.submit(oracles)
        wrong, failed, detail = [], [], {}
        for entry in entries:
            try:
                actual = runner.build(entry, _no_span).toPandas()
                if entry.name == alter_result and len(actual):
                    actual = actual.iloc[:-1]
                expected = expected_all.result()[entry.name]
                if isinstance(expected, Exception):
                    raise expected
                errors = compare_frames(actual, expected)
            except Exception as exc:  # noqa: BLE001 - counted, reported, never retried
                failed.append(entry.name)
                detail[entry.name] = f"error: {type(exc).__name__}: {str(exc)[:300]}"
                continue
            finally:
                runner.spark.catalog.clearCache()
                gc.collect()
            if errors:
                wrong.append(entry.name)
                detail[entry.name] = f"mismatch: {errors[:2]}"
    return {"wrong": wrong, "failed": failed, "detail": detail}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True, help="process launch time")
    ap.add_argument("--data", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inject-failure")
    ap.add_argument("--alter-result")
    args = ap.parse_args()

    import spj_query_engine_spark.workload  # noqa: F401 - registers every entry
    from spj_query_engine_spark.catalog import load_tables

    t_import = time.time()
    spark = start_session(args.cores, args.scratch, bool(args.trace))
    t_session = time.time()
    load_tables(spark, args.data, ("region",))["region"].count()
    out = {"setup_s": time.time() - args.t0, "session.start_s": t_session - t_import}

    import workloads
    from layertrace import Tracer

    entry_list = workloads.entries(args.workload, args.seed)
    order_rng = random.Random(args.seed)
    runner = Runner(spark, args.data, args.inject_failure)
    if args.trace:
        runner.tracer = Tracer(spark, args.cores)
    attempted = failed = 0
    failures: dict[str, str] = {}

    def one_pass(pass_no: int, traced: bool) -> dict[str, tuple[float, float]]:
        """Every entry once: entry -> (latency, CPU seconds)."""
        nonlocal attempted, failed
        runs: dict[str, tuple[float, float]] = {}
        for entry in workloads.pass_order(entry_list, order_rng):
            attempted += 1
            try:
                runs[entry.name] = runner.run(entry, pass_no, traced)
            except Exception as exc:  # noqa: BLE001 - counted, never retried
                failed += 1
                failures.setdefault(entry.name, f"{type(exc).__name__}: {str(exc)[:300]}")
        return runs

    # a traced run traces the cold pass too: the sub-session clones happen
    # only there
    cold = one_pass(0, bool(args.trace))
    for pass_no in range(1, SETTLING_PASSES + 1):
        one_pass(pass_no, False)  # not reported
    warm: list[tuple[bool, dict[str, tuple[float, float]]]] = []
    t_warm = time.perf_counter()
    ticks0 = cpu_ticks()

    def enough() -> bool:
        if time.perf_counter() - t_warm < args.seconds:
            return False
        if args.trace:
            return sum(traced for traced, _ in warm) >= MIN_TRACED_PASSES
        return len(warm) >= MIN_WARM_PASSES

    while not enough():
        traced = bool(args.trace) and len(warm) % 4 in (0, 3)
        warm.append((traced, one_pass(len(warm) + SETTLING_PASSES + 1, traced)))
    measured_s = time.perf_counter() - t_warm
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    t_check = time.perf_counter()
    check = check_outputs(runner, entry_list, args.alter_result)
    check_s = time.perf_counter() - t_check
    attempted += len(entry_list)
    failed += len(check["failed"])

    untraced = [runs for traced, runs in warm if not traced]

    def column(runs_list, i):
        """Per entry, the i-th field (0 latency, 1 CPU) of each run."""
        return {e.name: [r[e.name][i] for r in runs_list if e.name in r] for e in entry_list}

    def pass_totals(runs_list, i):
        """Per pass, the sum of the i-th field over the entries that ran (an
        entry that raised is counted in ``failed`` instead)."""
        return [sum(r[i] for r in runs.values()) for runs in runs_list if runs]

    out.update({
        "entries": [e.name for e in entry_list],
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "check": check,
        "measured_s": measured_s,
        "check_s": check_s,
        # share of the machine's CPU time the hypervisor gave to other guests
        # during the warm window: high values mark a contended host
        "steal_frac": ticks[7] / max(1, sum(ticks)),
        "cold": {name: list(r) for name, r in cold.items()},
        "first_pass_s": sum(r[0] for r in cold.values()),
        "first_pass_cpu_s": sum(r[1] for r in cold.values()),
        "warm_passes": pass_totals(untraced, 0),
        "warm_cpu_passes": pass_totals(untraced, 1),
        "warm_latencies": column(untraced, 0),
        "warm_cpu": column(untraced, 1),
    })
    if args.trace:
        tracer = runner.tracer
        traced_passes = [
            i + SETTLING_PASSES + 1 for i, (traced, _) in enumerate(warm) if traced
        ]
        per_pass = [tracer.pass_metrics(p) for p in traced_passes]
        layer = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        cold_layers = tracer.pass_metrics(0)
        for k in ("session.clone_calls", "session.clone_s"):
            layer[k] = cold_layers[k]
        traced_walls = pass_totals([runs for traced, runs in warm if traced], 0)
        settled = pass_totals(untraced, 0)
        peak_mb, live_mb = tracer.jvm_memory_mb()
        layer.update({
            "session.start_s": out["session.start_s"],
            "session.jvm_peak_rss_mb": peak_mb,
            "session.live_heap_mb": live_mb,
            "trace.overhead_ratio": (
                statistics.median(traced_walls) / statistics.median(settled)
                if traced_walls and settled else math.nan
            ),
        })
        out["layers"] = layer
        trace_dir = os.path.join(HERE, "_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        out["trace_file"] = os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        )
        tracer.dump(out["trace_file"], {
            "workload": args.workload, "seed": args.seed, "cores": args.cores,
            "traced_passes": traced_passes, "per_pass": per_pass, "cold_pass": cold_layers,
        })
    return finish(args.out, out)


def finish(path: str, out: dict) -> int:
    """Write the result and exit at once: ``run.py`` stops the JVM and its
    workers, which saves the seconds a graceful Spark shutdown takes."""
    with open(path, "w") as fh:
        json.dump(out, fh)
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
