"""The two benchmark workloads, each as setup → measured loop → checks.

Set-up (``setup_s``) runs from before ``get_spark`` to the end of a
fixed-work warm-up at the measured input size. Input generation, the
oracle, output checks and checkpoint-dir deletion are outside every clock,
and the oracle and checks run only after the timed passes, so their memory
and CPU are not in the process tree while it is sampled.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from dataclasses import dataclass, field

import gen
import oracle
import procs
import common

# Inputs: ~30 turns per conversation as in the repo's sf tiers, written as
# eight part files; flagship_runner adds one conversation holding 5% of the
# rows. Sizes are set by the run budget (NOTES.md, "Run budget and input
# size"): per-row work is ~30% of a flagship pass's CPU at 100k turns and
# ~55% of a collector_config pass's at 60k (it re-parses per exporter).
FLAG_ROWS, FLAG_CONVS, FLAG_HOT = 100_000, 3_300, 0.05
CONFIG_ROWS, CONFIG_CONVS = 60_000, 2_000
# Warm-up is one full pass at the measured size (20-30 s of code generation
# and JIT on 4 cores). The pass after it still runs ~15% slower than later
# ones, so a run times at least three passes and reports medians.
WARM_PASSES = 1
MIN_PASSES = 3

# streaming_flagship drains: files of FILE_ROWS rows, FILES_PER_TRIGGER a batch
FILE_ROWS, FILE_CONVS = 200, 10
FILES_PER_TRIGGER = 2


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# batch workloads: shared closed loop
# ---------------------------------------------------------------------------

def _batch(app: str, rows: int, seconds: float, trace: bool, one_pass, traced,
           input_desc: str) -> Result:
    """Set-up, warm-up, then timed passes until ``seconds`` of passes and
    at least MIN_PASSES. ``one_pass(spark, tag) -> (wall, check)``, where
    ``check()`` verifies that pass's output, deletes it and returns the
    mismatches; every check runs after the session has stopped.
    ``traced(spark, start_s, warm) -> Result`` replaces the timed passes
    when ``trace`` is set."""
    t0 = time.perf_counter()
    spark = common.start_spark(app, os.path.join(common.WORK, "events") if trace else None)
    start_s = time.perf_counter() - t0
    checks = []
    try:
        warm = []
        for i in range(WARM_PASSES):
            wall, check = one_pass(spark, f"warm{i}")
            warm.append(wall)
            checks.append((f"warm-up pass {i}", check))
        if trace:
            res = traced(spark, start_s, warm)
            for tag, check in checks:
                bad = check()
                res.errors += [f"{tag}: {e}" for e in bad]
                res.failed += bool(bad)
            return res
        walls, cpus, jits = [], [], []
        with procs.RssSampler() as rss:
            while sum(walls) < seconds or len(walls) < MIN_PASSES:
                tag = f"pass{len(walls)}"
                c0, j0, s0 = *procs.tree_cpu_s(), rss.cpu_s
                wall, check = one_pass(spark, tag)
                c1, j1, s1 = *procs.tree_cpu_s(), rss.cpu_s
                walls.append(wall)
                # the JIT still compiles for several CPU-s a pass after
                # warm-up, in bursts; it and the sampler thread are not
                # pass work
                cpus.append((c1 - c0) - (j1 - j0) - (s1 - s0))
                jits.append(j1 - j0)
                checks.append((tag, check))
    finally:
        common.stop_spark(spark)

    errors, failed = [], 0
    for tag, check in checks:
        bad = check()
        errors += [f"{tag}: {e}" for e in bad]
        failed += bool(bad)
    med = statistics.median(walls)
    metrics = {
        "setup_s": (start_s + sum(warm), "s"),
        "rows_per_s": (rows / med, "rows/s"),
        "cpu_s_per_mrow": (statistics.median(cpus) / rows * 1e6, "s/Mrow"),
        "peak_rss_mb": (rss.peak, "MB"),
    }
    info = {
        "input": input_desc,
        "session.start_s": round(start_s, 3),
        "warm_pass_s": [round(w, 3) for w in warm],
        "pass_s": [round(w, 3) for w in walls],
        "pass_s_quartiles": [round(q, 3) for q in common.quartiles(walls)],
        "pass_cpu_s": [round(c, 2) for c in cpus],
        "pass_jit_cpu_s": [round(j, 2) for j in jits],
        "sampler_cpu_s": round(rss.cpu_s, 3),
    }
    return Result(metrics, len(checks), failed, errors, info)


# ---------------------------------------------------------------------------
# flagship_runner
# ---------------------------------------------------------------------------

def _flagship_pass(spark, fixture_dir: str, ckpt: str, wrap=None) -> float:
    from opentelemetry_collector_contrib_spark.plans.flagship import flagship_stages
    from opentelemetry_collector_contrib_spark.plans.runner import PipelineRunner

    t0 = time.perf_counter()
    runner = PipelineRunner(spark, ckpt)
    stages, fps = flagship_stages(fixture_dir)
    if wrap is not None:
        stages = wrap(stages)
    runner.run(stages, fps)
    return time.perf_counter() - t0


def _oracle(*args):
    """The oracle's expectations, computed on first use: after the timed
    passes, so DuckDB's memory is not in the sampled process tree."""
    return functools.cache(lambda: oracle.expected(*args))


def flagship_runner(seed: int, seconds: float, trace: bool) -> Result:
    work = common.WORK
    fixture = gen.write_dataset(os.path.join(work, "input"), seed, FLAG_ROWS,
                                FLAG_CONVS, FLAG_HOT)
    exp = _oracle(gen.transcripts_glob(fixture))

    def one_pass(spark, tag):
        ckpt = os.path.join(work, tag)
        wall = _flagship_pass(spark, fixture, ckpt)

        def check():
            bad = oracle.check_flagship(ckpt, exp())
            common.rmtree(ckpt)
            return bad
        return wall, check

    def traced(spark, start_s, warm):
        import tracing

        probe = _stage_files(os.path.join(work, "probe_stage"), seed + 13,
                             tracing.PROBE_FILES, "p")
        raw = tracing.flagship_passes(spark, fixture, exp(), _flagship_pass,
                                      lambda: _drain(spark, fixture, probe, "probe"))
        errors = raw["errors"]
        common.stop_spark(spark)  # completes the event log
        m = tracing.flagship_metrics(raw, os.path.join(work, "events"), fixture)
        m.update({"session.start_s": start_s, "session.warm_s": sum(warm)})
        tracing.print_table("flagship pass, per layer (medians over traced passes)",
                            raw["table"], raw["pass_wall"])
        metrics, extra = tracing.all_metrics(m)
        return Result(metrics, tracing.TRACED_PASSES + WARM_PASSES,
                      1 if errors else 0, errors,
                      {"traced_pass_s": round(raw["pass_wall"], 3),
                       "plain_pass_s": [round(x, 3) for x in raw["plain"]], **extra})

    return _batch("perfbench-flagship", FLAG_ROWS, seconds, trace, one_pass, traced,
                  f"{FLAG_ROWS} turns, {FLAG_CONVS} convs, hot share {FLAG_HOT}")


# ---------------------------------------------------------------------------
# collector_config
# ---------------------------------------------------------------------------

def _config_pass(spark, cfg: dict) -> tuple[float, dict]:
    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    t0 = time.perf_counter()
    outputs = CollectorConfig(cfg).run(spark)
    # a debug exporter hands back a DataFrame, which run_config.py prints
    outputs["debug/metrics"] = outputs["debug/metrics"].collect()
    return time.perf_counter() - t0, outputs


def collector_config(seed: int, seconds: float, trace: bool) -> Result:
    import tracing

    work = common.WORK
    fixture = gen.write_dataset(os.path.join(work, "input"), seed, CONFIG_ROWS,
                                CONFIG_CONVS, 0.0)
    exp = _oracle(gen.transcripts_glob(fixture), "role <> 'system'")

    def one_pass(spark, tag):
        out = os.path.join(work, tag)
        wall, outputs = _config_pass(spark, tracing.collector_config(fixture, out))

        def check():
            bad = oracle.check_config(outputs, exp())
            common.rmtree(out)
            return bad
        return wall, check

    def traced(spark, start_s, warm):
        raw = tracing.config_passes(spark, fixture, exp(), _config_pass)
        errors = raw["errors"]
        common.stop_spark(spark)  # completes the event log
        m = tracing.config_metrics(raw, os.path.join(work, "events"), fixture)
        m.update({"session.start_s": start_s, "session.warm_s": sum(warm)})
        tracing.print_table("collector_config run (medians over traced runs)",
                            raw["table"], raw["pass_wall"])
        print("# pipeline-prefix ladder, noop sink: " + ", ".join(
            f"{k} {v:.3f}s" for k, v in raw["ladder"].items()))
        metrics, extra = tracing.all_metrics(m)
        return Result(metrics, tracing.CONFIG_TRACED_RUNS + WARM_PASSES,
                      1 if errors else 0, errors,
                      {"traced_run_s": round(raw["pass_wall"], 3),
                       "plain_run_s": [round(x, 3) for x in raw["plain"]], **extra})

    return _batch("perfbench-config", CONFIG_ROWS, seconds, trace, one_pass, traced,
                  f"{CONFIG_ROWS} turns, {CONFIG_CONVS} convs, no hot conversation")


# ---------------------------------------------------------------------------
# streaming_flagship drains (the flagship traced run and the self-test)
# ---------------------------------------------------------------------------

def _stage_files(dirname: str, seed: int, n: int, tag: str) -> list[str]:
    import pyarrow.parquet as pq

    os.makedirs(dirname, exist_ok=True)
    paths = []
    for i in range(n):
        t = gen.transcripts_table(seed * 100_003 + i, FILE_ROWS, FILE_CONVS,
                                  conv_prefix=f"{tag}{i:04d}", ts_offset_s=i)
        p = os.path.join(dirname, f"{tag}{i:04d}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    return paths


def _drain(spark, dims: str, files: list[str], tag: str) -> tuple[float, list[dict]]:
    """Drain ``files`` through a throwaway query with availableNow in
    batches of FILES_PER_TRIGGER files; returns (wall, progress)."""
    from opentelemetry_collector_contrib_spark.streaming.pipeline import streaming_flagship

    inp = os.path.join(common.WORK, f"{tag}_in")
    os.makedirs(inp)
    for f in files:
        os.rename(f, os.path.join(inp, os.path.basename(f)))
    t0 = time.perf_counter()
    q = streaming_flagship(spark, inp, dims, os.path.join(common.WORK, f"{tag}_out"),
                           os.path.join(common.WORK, f"{tag}_ck"), available_now=True,
                           max_files_per_trigger=FILES_PER_TRIGGER)
    q.awaitTermination()
    return time.perf_counter() - t0, q.recentProgress


RUNNERS = {
    "collector_config": collector_config,
    "flagship_runner": flagship_runner,
}
