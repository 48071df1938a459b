"""Self-tests of the benchmark itself (not of the program it measures).

    python3 perfbench/selftest.py

From the root of a checkout, runs:

1. a tiny-size smoke run of every workload, untraced and traced, and
   checks that each prints exactly the metric names ``BENCHMARK.json``
   lists, with ``correct`` true and no failures;
2. a fault injection per workload (``--tamper`` corrupts one output
   digest), which must report ``correct`` false and ``failed`` > 0;
3. the runner in a directory holding only ``BENCHMARK.json`` and the
   benchmark's files, which must exit non-zero without printing a result.

Takes a few minutes; exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def run(args, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", *args]
    out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                         timeout=600)
    last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    return out.returncode, last, out.stderr


def result_of(args):
    code, last, err = run(args)
    if code != 0:
        sys.exit(f"FAIL {args}: exit {code}\n{err[-2000:]}")
    return json.loads(last)


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = {0: {m["name"] for m in spec["end_to_end"]},
             1: {m["name"] for m in spec["per_layer"]}}
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            res = result_of(["--workload", w, "--seed", "42", "--size",
                             "tiny", "--seconds", "1", "--trace", str(trace)])
            got = set(res["metrics"])
            if got != names[trace]:
                sys.exit(f"FAIL {w} trace={trace}: metric names differ: "
                         f"missing {sorted(names[trace] - got)}, "
                         f"extra {sorted(got - names[trace])}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                sys.exit(f"FAIL {w} trace={trace}: {res}")
            print(f"ok   smoke {w} trace={trace}")
        res = result_of(["--workload", w, "--seed", "42", "--size", "tiny",
                         "--seconds", "1", "--trace", "0", "--tamper"])
        if res["correct"] or res["failed"] < 1:
            sys.exit(f"FAIL {w}: tampered digest not reported: {res}")
        print(f"ok   tamper {w}: failed {res['failed']}/{res['attempted']}")

    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, last, _ = run(["--workload", spec["workloads"][0]["name"],
                             "--seed", "1", "--seconds", "1", "--trace", "0"],
                            cwd=bare)
        if code == 0 or last.startswith("{"):
            sys.exit(f"FAIL bare checkout: exit {code}, last line {last!r}")
        print(f"ok   bare checkout exits {code} without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
