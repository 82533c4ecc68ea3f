#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload playback_paced --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints progress to stderr and, as the last
line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). All scratch files live under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    # keep every file the run (and the JVM it starts) writes inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401 — the analytics workload's query list
        import fledge_south_csvplayback_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import report
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(tmp)
    os.chdir(work)
    h = workloads.Harness(work, args.seed, args.seconds, bool(args.trace))
    try:
        out = report.run(h, args.workload)
    finally:
        h.close()
        if h.trace:
            h.tracer.write(os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.json"))
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for e in h.errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
