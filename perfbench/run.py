"""Benchmark runner.

    python3 perfbench/run.py --workload crawl|operators --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  Builds its inputs from ``--seed``,
measures, checks the outputs, and prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run also writes Spark's event log and wraps the catalog/bloom entry
points, and the metrics are the per-layer ones.  A fingerprint of the
box, the code and the workload parameters goes to stdout just before the
result.  Every file the run writes lives under ``.bench_work/`` in the
checkout and is removed at exit.

Extra options (not used by the timed runs): ``--size tiny`` for a smoke
run, ``--tamper`` to corrupt one output digest (the result must then
report failures), ``--write-pins`` to record the digests of an
uninterrupted run for (size, seed) into ``pins.json``.
"""

from __future__ import annotations

import time

T_PROC0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("crawl", "operators")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--tamper", action="store_true")
    ap.add_argument("--write-pins", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bitextor_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds the "
              "bitextor_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import harness

    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    ctx = harness.Ctx(workload=args.workload, seed=args.seed,
                      seconds=args.seconds, trace=bool(args.trace),
                      size=args.size, tamper=args.tamper, root=root,
                      work=work, t_proc0=T_PROC0)
    try:
        if args.workload == "crawl":
            import crawl as mod
        else:
            import operators as mod
        result = mod.run(ctx, write_pin=args.write_pins)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            harness.stop_spark(ctx)
        finally:
            harness.cleanup(work)
    print(json.dumps({"fingerprint": ctx.fingerprint, **result.notes}))
    print(json.dumps(result.line(bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
