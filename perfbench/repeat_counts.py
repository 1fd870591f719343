#!/usr/bin/env python3
"""Which per-layer counts repeat exactly across two same-seed traced runs.

    python3 perfbench/repeat_counts.py --workload spj_dialect --seed 1

Runs ``run.py --trace 1`` twice with the same seed, pairs the traced entry
runs of the two trace files (same seed, so same entries in the same order)
and prints, per count, whether every pair matched exactly or the largest
relative difference.  Only an exact count can back a claim on its own.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COUNTS = (
    "jobs", "build.jobs", "stages", "tasks", "coarse.calls", "session.clone_calls",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill_bytes",
    "io.read_bytes", "io.write_bytes",
)


def traced_run(workload: str, seed: int, seconds: int) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True, check=True,
    )
    line = next(x for x in proc.stdout.splitlines() if "trace file:" in x)
    with open(os.path.join(ROOT, line.split("trace file:")[1].strip())) as fh:
        return json.load(fh)["entries"]


def flatten(rec: dict) -> dict[str, float]:
    out = {k: rec[k] for k in COUNTS}
    out.update({f"py4j.{layer}": n for layer, n in rec["py4j"].items()})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    args = ap.parse_args()
    a = traced_run(args.workload, args.seed, args.seconds)
    b = traced_run(args.workload, args.seed, args.seconds)
    worst: dict[str, float] = {}
    diffs: dict[str, list[str]] = {}
    for ra, rb in zip(a, b):
        assert (ra["entry"], ra["pass"]) == (rb["entry"], rb["pass"])
        fa, fb = flatten(ra), flatten(rb)
        for key in fa:
            x, y = fa[key], fb.get(key, 0)
            rel = abs(x - y) / max(abs(x), abs(y)) if x != y else 0.0
            worst[key] = max(worst.get(key, 0.0), rel)
            if x != y:
                diffs.setdefault(key, []).append(f"{ra['entry']}: {x} vs {y}")
    print(f"{args.workload} seed {args.seed}: {min(len(a), len(b))} traced entry runs paired")
    for key in sorted(worst):
        verdict = "exact" if worst[key] == 0 else f"varies, up to {worst[key]:.1%}"
        print(f"  {key:<26}{verdict}  {'; '.join(diffs.get(key, [])[:3])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
