"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload flagship_runner --seed 1 --seconds 20 --trace 0

Workloads (see NOTES.md for why each was chosen):
  flagship_runner   closed loop, one client: PipelineRunner.run over
                    flagship_stages into a fresh checkpoint dir per pass.
  collector_config  closed loop, one client: CollectorConfig.run on
                    collector.yaml, the otelcol --config analog.

--trace 0 prints the end-to-end metrics; --trace 1 is a separate run that
times each layer from outside and prints the per-layer metrics. The last
stdout line is always the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
from common import HEAP, PACKAGE, ROOT, WORK  # noqa: E402

WORKLOADS = ("flagship_runner", "collector_config")
FAIL_EXIT = 2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(FAIL_EXIT)


def source_id() -> str:
    """The git commit of the checkout, or, outside git, a hash of the
    package's sources."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                capture_output=True, text=True, timeout=5,
            ).stdout.strip()
            if out:
                return out
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(root, name), "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:12]


def context() -> dict:
    """Host and build facts printed with every result."""
    return {
        "commit": source_id(),
        "cores": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
    }


def prepare() -> None:
    """Refuse to start next to a live JVM or worker of an earlier run, and
    make sure the program under test is the one in this checkout."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"no {PACKAGE} package next to {os.path.basename(HERE)}/; "
             "run from a full checkout")
    deadline = time.time() + 10
    while (left := procs.marked_processes()) and time.time() < deadline:
        time.sleep(0.5)
    if left:
        fail(f"processes of an earlier run are still alive: {left}")
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.environ[procs.MARKER] = WORK
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # spark-submit's short-lived launcher JVM: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # deployment sizing for these small inputs; the package default is 8g
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(os.path.join(ROOT, PACKAGE)):
        fail(f"{PACKAGE} imported from outside the checkout: {pkg.__file__}")


def emit(workload: str, correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]], info: dict) -> None:
    for k, v in info.items():
        print(f"# {k}: {v}")
    for name, (value, unit) in metrics.items():
        print(f"{workload}  {name:<32} {value:>14.6g} {unit}")
    print(f"{workload}  check: {'PASS' if correct else 'FAIL'} "
          f"({attempted - failed}/{attempted} operations correct)")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    prepare()
    import workloads

    run = workloads.RUNNERS[args.workload]
    steal0 = procs.cpu_times()
    try:
        res = run(args.seed, args.seconds, bool(args.trace))
    finally:
        procs.kill_descendants()
    info = context()
    steal = procs.steal_pct(steal0, procs.cpu_times())
    info["host.steal_pct"] = round(steal, 3)
    if "host.steal_pct" in res.metrics:
        res.metrics["host.steal_pct"] = (steal, "%")
    info.update(res.info)
    if res.errors:
        for e in res.errors[:20]:
            print(f"# check failure: {e}")
    emit(args.workload, not res.errors, res.attempted, res.failed,
         res.metrics, info)
    if args.trace:
        # a traced run leaves its spans and event log for inspection; the
        # next run's prepare() clears them
        for name in os.listdir(WORK):
            if name not in ("spans.json", "events"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    else:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
