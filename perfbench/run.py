#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload discogs_backfill --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Workloads: ``discogs_backfill`` and
``llm_dataprep`` (see perfbench/README.md).  The last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it is the run stamp.  Spans
are written to ``.bench_build/perfbench/``.

Exit code 0 when every operation succeeded and every output checked
out, 1 otherwise, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM_GB = 4  # pinned well below the box's memory; see README


def _pin_environment(work: str) -> int:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and pin the session's size.  Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what earlier runs left behind
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{DRIVER_MEM_GB}g"
    return cpus


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    cpus = _pin_environment(work)
    # run from the checkout root, importing the engine from there
    os.chdir(ROOT)
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path.pop(0)
    sys.path.insert(0, ROOT)
    try:
        from perfbench import workloads
        from perfbench.spans import Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    ctx = workloads.Ctx(
        work=work, seed=args.seed, seconds=args.seconds, cpus=cpus,
        tracer=Tracer(run_id, enabled=False),
    )
    result, stamp = workloads.run(args.workload, ctx, traced=bool(args.trace))
    ctx.tracer.write(os.path.join(work, f"spans-{run_id}.json"), stamp)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
