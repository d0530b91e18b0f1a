#!/usr/bin/env python3
"""Self-test: two traced runs with the same seed count the same work.

    python3 perfbench/selftest.py --workload cdc_merge --seed 7 --seconds 20

Runs ``run.py --trace 1`` twice and compares, for every op type, the
exact per-op counters (py4j calls without py4j's memory commands,
filesystem calls by kind, log calls, files planned/kept/scanned/
written, Spark jobs and stages) of the ops both runs traced. Exits 0
when every count repeats, 1 otherwise, listing each difference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_counts(workload: str, seed: int, seconds: float, copy_to: str) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "1",
    ]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=600)
    src = os.path.join(ROOT, ".perfbench_out", f"layers-{workload}-{seed}.json")
    shutil.copyfile(src, copy_to)
    with open(copy_to) as fh:
        return json.load(fh)["exact_counts"]


def compare(a: dict, b: dict) -> list[str]:
    diffs = []
    for op_type in sorted(set(a) | set(b)):
        xs, ys = a.get(op_type, []), b.get(op_type, [])
        if not xs or not ys:
            diffs.append(f"{op_type}: traced in only one run")
            continue
        for i, (x, y) in enumerate(zip(xs, ys)):
            for name in sorted(set(x) | set(y)):
                if x.get(name) != y.get(name):
                    diffs.append(f"{op_type}[{i}] {name}: {x.get(name)} != {y.get(name)}")
    return diffs


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="cdc_merge")
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args()
    out = os.path.join(ROOT, ".perfbench_out")
    runs = [
        traced_counts(
            args.workload, args.seed, args.seconds,
            os.path.join(out, f"selftest-{args.workload}-{args.seed}-{i}.json"),
        )
        for i in (1, 2)
    ]
    diffs = compare(*runs)
    n = sum(min(len(runs[0].get(t, [])), len(runs[1].get(t, []))) for t in runs[0])
    if diffs:
        print(f"selftest FAILED: {len(diffs)} counts differ")
        print("\n".join(diffs))
        return 1
    print(f"selftest ok: {n} traced ops, identical counts per op type")
    return 0


if __name__ == "__main__":
    sys.exit(main())
