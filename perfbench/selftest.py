#!/usr/bin/env python3
"""Self-test of the benchmark.  Run from the repository root:

    python3 perfbench/selftest.py

* A tiny run of each workload, untraced and traced, prints every metric
  that BENCHMARK.json names, with its unit, and passes its own check.
* One flipped text byte, and separately one dropped row, drive ok_share
  below 1 and ``correct`` to false.
* Without the package next to it, the benchmark exits non-zero and prints
  no result.

Takes a few minutes: every case starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--seed", "7", "--seconds", "1", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            name = f"{w['name']} --trace {trace}"
            code, out, err = run(["--workload", w["name"], "--tiny",
                                  "--trace", str(trace)])
            expect(code == 0 and out is not None, f"{name}: exits 0 with a "
                   f"result{'' if code == 0 else ': ' + err[-2000:]}")
            if out is None:
                continue
            expect(sorted(out) == ["attempted", "correct", "failed",
                                   "metrics"], f"{name}: result keys")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(got == want, f"{name}: every {group} metric with its unit")
            expect(out["correct"] and out["failed"] == 0,
                   f"{name}: outputs check correct")
            if trace == 0:
                expect(out["metrics"]["ok_share"]["value"] == 1.0,
                       f"{name}: ok_share is 1")

    # web_census writes no sink: its text is checked only through the
    # expected counters, so the corrupted-output cases run on mixed_fresh
    for workload, how in (("mixed_fresh", "flip"), ("mixed_fresh", "drop")):
        name = f"{workload} --corrupt {how}"
        code, out, _ = run(["--workload", workload, "--tiny",
                            "--corrupt", how])
        expect(code == 0 and out is not None, f"{name}: exits 0")
        if out is not None:
            expect(not out["correct"] and out["failed"] >= 1
                   and out["metrics"]["ok_share"]["value"] < 1.0,
                   f"{name}: check fails, ok_share "
                   f"{out['metrics']['ok_share']['value']}")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out, _ = run(["--workload", "web_census"], cwd=bare)
    expect(code != 0 and out is None,
           "without the package: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
