"""Benchmark command for tantivy_search_spark.

    python3 perfbench/run.py --workload dist-query --seed 1 --seconds 15 \
        --trace 0

Run from the root of a source checkout.  Builds everything it needs from
the seed, inside ``.perfbench_work/`` of the checkout, and prints one JSON
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, from spans recorded around
the engine's public calls (see perfbench/README.md).  The line before it
is a report: sample counts, query-class shares, host calibration and any
failures.  Exits non-zero, printing no result, if the engine package is
missing or the run cannot be set up.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dist-query", "embedded-serve")


def _env(work: str) -> None:
    """Host hygiene: one BLAS/OpenMP thread, temp files in the checkout,
    Spark's Python workers on this interpreter and this source tree."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no hsperfdata file
    # in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["ARROW_DEFAULT_MEMORY_POOL"] = "mimalloc"


def _finite(x: float) -> float:
    return float(x) if math.isfinite(x) else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tantivy_search_spark",
                                       "__init__.py")):
        print(f"perfbench: no tantivy_search_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    sys.path[0] = ROOT  # not perfbench/: its modules import as perfbench.*

    from perfbench.metrics import E2E, PER_LAYER
    from perfbench.session import Session

    nproc = len(os.sched_getaffinity(0))
    sess = Session(args.workload, args.seed, args.seconds, bool(args.trace),
                   work, nproc, T_START)
    try:
        sess.run()
        if args.trace:
            sess.tr.dump(os.path.join(
                base, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    layer = dict(sess.layer)
    for when in ("start", "end"):
        cal = sess.report[f"host_{when}"]
        layer[f"host.mem_copy_gbps_{when}"] = cal["mem_copy_gbps"]
        layer[f"host.loadavg_1m_{when}"] = cal["loadavg_1m"]
    values, units = (layer, PER_LAYER) if args.trace else (sess.e2e, E2E)
    metrics = {name: {"value": _finite(values.get(name, 0.0)),
                      "unit": unit}
               for name, (unit, _) in units.items()}
    failed = len(sess.ledger.failures)
    print(json.dumps({"report": sess.report}, default=str))
    print(json.dumps({"correct": failed == 0,
                      "attempted": max(1, sess.ledger.attempted),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
