"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of stdout is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); progress and the sample
counts behind each tail go to stderr. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones. See NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"daily_batch": "batch", "stream_etl": "stream"}
DRIVER_MEMORY = "2g"


def main(argv: list[str] | None = None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(BENCH_DIR)
    sys.path.insert(0, root)
    from harness import Ctx, emit, load_spec
    from spans import Tracer

    spec = load_spec()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark and Python scratch files stay inside the checkout.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # A fixed, pre-touched driver heap (see harness.start_spark): otherwise
    # the heap grows as far as GC timing lets it and peak RSS wanders by half.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    ctx = Ctx(args.workload, args.seed, args.seconds, work, Tracer(run_id, bool(args.trace)))
    ctx.t0 = t0
    try:
        mod = importlib.import_module(WORKLOADS[args.workload])
        with ctx.rss:
            mod.run(ctx)
        if ctx.traced:
            ctx.tracer.write(os.path.join(root, ".perfbench_work", f"spans-{run_id}.json"))
        ctx.info("done")
        emit(ctx, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
