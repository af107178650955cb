"""Paths and Spark session handling shared by the workloads."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "opentelemetry_collector_contrib_spark"
WORK = os.path.join(HERE, "_work")
# fixed-size driver heap: a growable heap resizes with GC pause times, which
# follow host load, and peak RSS then swings by 1.5x between runs
HEAP = "1g"


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def start_spark(app: str, event_log: str | None = None):
    from opentelemetry_collector_contrib_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # temp files under the work dir; no hsperfdata file in /tmp; JIT
        # compiler threads that never exit, so their CPU can be told apart
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={os.path.join(WORK, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            # Spark 4 defaults to zstd, which Python here cannot read
            "spark.eventLog.compress": "false",
        })
    return get_spark(app, cores=len(os.sched_getaffinity(0)), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process of the
    tree to end."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:  # already stopped
        procs.kill_descendants()
        return
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        procs.kill_descendants()


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
