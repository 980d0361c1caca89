"""Solar engine benchmark: run one workload from a seed and print its
metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines before
it give the workload's headline figures with their sample counts. Any
output that disagrees with the oracle makes the exit code 1.

Everything the run writes goes under ``.bench_work/`` in the checkout;
its own inputs are deleted at exit, its span file is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def configure(work: str, cpus: int) -> None:
    """Environment for the session and its Python workers, set before the
    JVM starts: workers import the engine from this checkout, scratch
    space stays inside it, and the core count comes from the affinity
    mask, as ``nproc`` reports it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # a 2 GB heap cap instead of the engine's 8 GB default keeps the
        # benchmark small on a shared host; the heap still grows on demand
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        ]),
    })
    time.tzset()
    sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("backfill", "dashboard"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(os.getcwd(), ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure(work, cpus)
    # imported after configure(): the engine must resolve from this checkout
    from workloads import WORKLOADS

    bench = WORKLOADS[args.workload](
        args.workload, args.seed, args.seconds, bool(args.trace), work, cpus)
    try:
        bench.setup()
        bench.run()
        metrics = {} if bench.failures else (
            bench.per_layer() if args.trace else bench.end_to_end())
        lines = bench.summary()
    finally:
        bench.close()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        bench.tracer.write(
            os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"setup_s": bench.setup_s, "deliveries": bench.deliveries,
             "queries": bench.queries, "failures": bench.failures},
        )

    for line in lines:
        print(line)
    for failure in bench.failures[:20]:
        print(f"MISMATCH {failure}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if bench.failures else 0


if __name__ == "__main__":
    sys.exit(main())
