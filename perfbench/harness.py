"""Shared pieces of the benchmark: host calibration, the Spark session,
job counting, result comparison and the failure ledger."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np


def host_calibration() -> dict:
    """Best-of-3 single-stream memory copy and the 1-minute load average,
    taken at the start and end of every run as context for its timings."""
    a = np.zeros(64_000_000 // 8)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = max(best, 2 * a.nbytes / (time.perf_counter() - t0) / 1e9)
    return {"mem_copy_gbps": round(best, 3),
            "loadavg_1m": os.getloadavg()[0]}


def median_or_nan(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def start_spark(work: str, nproc: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.memory", "2g")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()


class JobCounter:
    """Spark jobs, stages and tasks of a tagged block of calls, read
    from ``SparkContext.statusTracker()`` (traced runs only)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.per_route: dict[str, list[dict]] = {}
        self._n = 0

    def tag(self, route: str) -> str | None:
        if not self.enabled:
            return None
        self._n += 1
        group = f"{route}-{self._n}"
        self.sc.setJobGroup(group, route)
        return group

    def record(self, route: str, group: str | None) -> None:
        if group is None:
            return
        tr = self.sc.statusTracker()
        jobs = list(tr.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = tasks = failed = 0
        for s in stages:
            si = tr.getStageInfo(s)
            if si is not None and si.numCompletedTasks + si.numFailedTasks:
                n_stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        self.per_route.setdefault(route, []).append(
            {"jobs": len(jobs), "stages": n_stages, "tasks": tasks,
             "failed_tasks": failed})

    def mean(self, route: str, key: str) -> float:
        xs = [r[key] for r in self.per_route.get(route, [])]
        return sum(xs) / len(xs) if xs else 0.0


class Ledger:
    """Operations attempted and failed.  A failure is an exception or a
    wrong result; each keeps its message for the run report."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def attempt(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(what)
        return ok


def same_topk(got: list[tuple[int, float]],
              want: list[tuple[int, float]]) -> bool:
    """The cross-tier contract: identical rows in identical order, scores
    equal to 3 decimal places."""
    return len(got) == len(want) and all(
        int(a[0]) == int(b[0]) and abs(float(a[1]) - float(b[1])) < 5e-4
        for a, b in zip(got, want))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
