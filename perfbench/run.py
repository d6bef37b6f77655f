"""Benchmark entry point.

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 12 --trace 0

Runs one workload from one process at ``local[nproc]`` and prints, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG_DIR = ROOT / "use_case_real_time_anomaly_detection_spark"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not PKG_DIR.is_dir():
        print(f"package not found at {PKG_DIR}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Python workers import the package too; the JVM passes this on
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # the package default sizes the driver heap for a 32-core host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from harness import Ctx, end_to_end, shutdown_jvm, summary_line
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work)  # Python temp files stay in the checkout
    ctx = Ctx(str(work), args.seed, cores)
    try:
        if args.trace:
            import traced

            m, metrics, notes = traced.run(ctx, wl_cls, args.seconds)
            for line in notes:
                print(line)
        else:
            m, metrics = end_to_end(ctx, wl_cls, args.seconds)
            print(summary_line(args.workload, m, metrics))
    finally:
        ctx.close()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for err in m.errors:
        print(f"failure: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
