#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository, on ``local[nproc]`` in
this one driver process. Inputs are generated from ``--seed`` and cached
under ``.perfbench_work/`` at the root, which also holds Spark's scratch
space, the full record of each run (``results/``) and, for ``--trace 1``,
the span report (``traces/``).

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
makes a separate traced pass and prints the per-layer metrics. The last
line of standard output is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM, the workers and duckdb write inside
    the work directory, and let the Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


class Session:
    """The benchmark's Spark session. ``start`` calls the program's
    ``get_spark``, which launches a JVM when none is running; ``shutdown``
    stops Spark (and its Python workers) and waits for the JVM to exit."""

    def __init__(self, work: str, cores: int) -> None:
        self.work, self.cores, self.spark = work, cores, None

    def start(self) -> float:
        from toyocr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            master=f"local[{self.cores}]",
            app_name="perfbench",
            shuffle_partitions=self.cores,
            extra={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "tmp", "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import toyocr_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the program is not importable from {ROOT}: {e}")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    _isolate(work)
    from perfbench.runner import run_workload

    cores = len(os.sched_getaffinity(0))
    sess = Session(work, cores)
    try:
        record = run_workload(WORKLOADS[args.workload](), sess, args, work)
    finally:
        sess.shutdown()

    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"-{os.getpid()}"
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    log(f"perfbench: record written to {os.path.relpath(path, ROOT)}")
    for name, m in record["metrics"].items():
        log(f"  {name:34s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
