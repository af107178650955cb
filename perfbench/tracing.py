"""Traced runs: per-layer metrics timed from outside the program.

Spans are recorded in memory around calls into each layer's public
functions; each span tags the Spark jobs it submits with its own job group,
and the Spark event log (uncompressed) supplies per-group executor time,
CPU, GC, shuffle and the executed plans. Spans are written to
``<work>/spans.json`` at the end.

Flagship layers come from two sources:
  * the runner's own stages, each wrapped so that its jobs carry the
    stage's group (route = sink_* stages, aggregate = metrics_*, group =
    conversation_rollup, runner = the lineage read-back jobs);
  * a prefix ladder with noop sinks over the same input:
    read_transcripts → parse_transcripts → enrich_transcripts, whose rung
    differences are the scan, parse and enrich self times.
The config and OTTL layers are timed by a ladder over the pipeline prefixes
of ``collector.yaml`` on the same input.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import time

import common
import oracle

TRACED_PASSES = 2
PLAIN_PASSES = 1
LADDER_REPS = 3
CONFIG_TRACED_RUNS = 1
PROBE_FILES = 12  # streaming probe in the flagship_runner traced run
CONFIG_RUNGS = ("receiver", "attributes/stamp", "transform/tag", "filter/drop_system")

# every per-layer metric, with its unit; a layer a workload bypasses reads 0
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.scan_s": "s",
    "sources.scans_per_pass": "count",
    "sources.bytes_read": "bytes",
    "parse.self_s": "s",
    "parse.cpu_s": "s",
    "parse.python_eval_nodes": "count",
    "enrich.self_s": "s",
    "enrich.broadcast_bytes": "bytes",
    "route.write_s": "s",
    "route.rows_out": "rows",
    "route.bytes_written": "bytes",
    "route.files_written": "count",
    "aggregate.counts_s": "s",
    "aggregate.durations_s": "s",
    "aggregate.shuffle_bytes": "bytes",
    "group.rollup_s": "s",
    "group.shuffle_bytes": "bytes",
    "group.task_skew": "ratio",
    "runner.lineage_s": "s",
    "runner.jobs_per_pass": "count",
    "runner.ckpt_bytes": "bytes",
    "config.build_s": "s",
    "ottl.transform_s": "s",
    "ottl.filter_s": "s",
    "config.exporter_s": "s",
    "streaming.batch_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.overhead_s_p50": "s",
    "streaming.rows_per_batch_p50": "rows",
    "streaming.batches": "count",
    "sources.busy_cores": "cores",
    "parse.busy_cores": "cores",
    "enrich.busy_cores": "cores",
    "route.busy_cores": "cores",
    "aggregate.busy_cores": "cores",
    "group.busy_cores": "cores",
    "runner.busy_cores": "cores",
    "streaming.busy_cores": "cores",
    "jvm.gc_s": "s",
    "tasks.failed": "count",
    "host.steal_pct": "%",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Spans:
    """In-memory span recorder. Opening a span sets the Spark job group to
    the span's name, so the jobs it submits can be found in the event log."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.done: list[dict] = []
        self._open: dict | None = None

    def open(self, name: str, parent: str | None = None) -> None:
        self.close()
        self.sc.setJobGroup(name, name)
        self._open = {"name": name, "parent": parent, "start": time.time()}

    def close(self) -> None:
        if self._open is not None:
            self._open["end"] = time.time()
            self.done.append(self._open)
            self._open = None
            self.sc.setJobGroup("untraced", "untraced")

    def timed(self, name: str, fn):
        self.open(name)
        try:
            return fn()
        finally:
            self.close()

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.done if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.done, f, indent=1)


def wrap_stages(stages, spans: Spans, prefix: str):
    """Runner stages whose fn opens a span named ``prefix/<stage>``; the
    span runs until the next stage starts (write + lineage + commit)."""
    out = []
    for st in stages:
        def fn(spark, ctx, _f=st.fn, _n=st.name):
            spans.open(f"{prefix}/{_n}", parent=prefix)
            return _f(spark, ctx)
        out.append(dataclasses.replace(st, fn=fn))
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, dirpath: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.stage_submitted: dict[int, float] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, dict] = {}
        self.accums: dict[int, int] = {}
        self.exec_group: dict[int, str] = {}
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
        for root, _d, names in sorted(os.walk(dirpath)):
            for name in sorted(names):
                if name.startswith("events_"):
                    with open(os.path.join(root, name)) as f:
                        for line in f:
                            self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id", "untraced")
            self.jobs[e["Job ID"]] = {
                "group": group,
                "callsite": props.get("callSite.short", ""),
                "start": e["Submission Time"] / 1000,
                "stages": e["Stage IDs"],
            }
            for s in e["Stage IDs"]:
                self.stage_group.setdefault(s, group)
                self.stage_submitted.setdefault(s, e["Submission Time"] / 1000)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                self.exec_group.setdefault(int(xid), group)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_read": sum(
                    (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                    for k in ("Remote Bytes Read", "Local Bytes Read")
                ),
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "failed": reason != "Success",
            })
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accums[acc_id] = value

    # -- selections -----------------------------------------------------
    def jobs_in(self, group_pred) -> list[dict]:
        return [j for j in self.jobs.values() if group_pred(j["group"])]

    def tasks_in(self, group_pred) -> list[dict]:
        return [t for t in self.tasks if group_pred(self.stage_group.get(t["stage"], ""))]

    def task_sum(self, group_pred, key: str) -> float:
        return sum(t[key] for t in self.tasks_in(group_pred))

    def task_sum_between(self, t0: float, t1: float, key: str) -> float:
        """Sum over tasks of jobs submitted in [t0, t1] (untagged work such
        as a streaming query's micro-batches)."""
        return sum(t[key] for t in self.tasks
                   if t0 <= self.stage_submitted.get(t["stage"], -1) <= t1)

    def nodes_in(self, group_pred):
        """Every node of the latest plan of each SQL execution whose jobs
        ran in a matching group."""
        for xid, g in self.exec_group.items():
            if group_pred(g) and xid in self.plans:
                stack = [self.plans[xid]]
                while stack:
                    n = stack.pop()
                    yield n
                    stack.extend(n.get("children") or [])

    def broadcast_bytes(self, group_pred) -> int:
        return sum(_broadcast(n, self.accums) for n in self.nodes_in(group_pred))

    def reduce_skew(self, group_pred) -> float:
        """max / median task run time of the heaviest shuffle-reading
        stage of the matching groups."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks_in(group_pred):
            if t["shuffle_read"] > 0:
                by_stage.setdefault(t["stage"], []).append(t["run_s"])
        if not by_stage:
            return 0.0
        runs = max(by_stage.values(), key=sum)
        m = statistics.median(runs)
        return max(runs) / m if m > 0 else 0.0


def _broadcast(node: dict, accums: dict[int, int]) -> int:
    """The "data size" a BroadcastExchange node reported, else 0."""
    if node.get("nodeName") != "BroadcastExchange":
        return 0
    return sum(int(accums.get(m["accumulatorId"], 0))
               for m in node.get("metrics") or [] if m.get("name") == "data size")


def _is(name: str):
    return lambda g: g == name


def _under(prefix: str):
    return lambda g: g.startswith(prefix + "/")


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _d, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def _gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# flagship_runner
# ---------------------------------------------------------------------------

def flagship_passes(spark, fixture: str, exp: dict, pass_fn, stream_probe) -> dict:
    """Plain passes, traced passes, the prefix ladder, and a short
    streaming_flagship drain over the same operators for the streaming
    layer (``stream_probe() -> (wall, progress)``). Returns the raw
    records; metrics come from :func:`flagship_metrics` once the session
    has stopped and the event log is complete."""
    from opentelemetry_collector_contrib_spark.operators.enrich import enrich_transcripts
    from opentelemetry_collector_contrib_spark.operators.parse import parse_transcripts
    from opentelemetry_collector_contrib_spark.sources.readers import (
        read_dims,
        read_transcripts,
    )

    work = common.WORK
    spans = Spans(spark)
    raw: dict = {"plain": [], "passes": [], "errors": [], "spans": spans}

    # traced and plain passes alternate, so the JIT is equally warm for both
    for i in range(TRACED_PASSES):
        if 0 < i <= PLAIN_PASSES:
            ckpt = os.path.join(work, f"plain{i}")
            raw["plain"].append(pass_fn(spark, fixture, ckpt))
            common.rmtree(ckpt)
        ckpt = os.path.join(work, f"traced{i}")
        tag = f"pass{i}"
        gc0 = _gc_ms(spark)
        start = time.time()
        wall = pass_fn(spark, fixture, ckpt, wrap=lambda st, t=tag: wrap_stages(st, spans, t))
        spans.close()
        # the pass itself, parent of its stage spans
        spans.done.append({"name": tag, "parent": None, "start": start, "end": time.time()})
        rec = {"tag": tag, "wall": wall, "gc_s": (_gc_ms(spark) - gc0) / 1000}
        rec["ckpt_bytes"], _ = _dir_stats(ckpt)
        sinks = [os.path.join(ckpt, f"sink_{r}") for r in oracle.ROUTES]
        rec["route_bytes"] = sum(_dir_stats(s)[0] for s in sinks)
        rec["route_files"] = sum(_dir_stats(s)[1] for s in sinks)
        rows = 0
        for r in oracle.ROUTES:
            with open(os.path.join(ckpt, "_pipeline_state", f"sink_{r}.json")) as f:
                rows += json.load(f)["rows_out"]
        rec["route_rows"] = rows
        raw["errors"] += [f"traced pass {i}: {e}" for e in oracle.check_flagship(ckpt, exp)]
        raw["passes"].append(rec)
        common.rmtree(ckpt)

    def scan():
        return read_transcripts(spark, fixture)

    def parse():
        return parse_transcripts(scan())

    def enrich():
        return enrich_transcripts(parse(), *read_dims(spark, fixture))

    # one untimed round first: the noop-sink plans start cold, and a cold
    # rung can read slower than the longer one after it
    for r in ["warm", *range(LADDER_REPS)]:
        for name, build in (("scan", scan), ("parse", parse), ("enrich", enrich)):
            spans.timed(f"{r}ladder/{name}" if r == "warm" else f"ladder{r}/{name}",
                        lambda b=build: _noop(b()))
    t0 = time.time()
    raw["probe_wall"], raw["probe_progress"] = stream_probe()
    raw["probe_window"] = (t0, time.time())
    spans.write(os.path.join(work, "spans.json"))
    return raw


def _scan_facts(log: EventLog, pred, input_path: str) -> tuple[int, int]:
    """(scans of the input table, ArrowEvalPython nodes) in the executed
    plans of the matching groups."""
    nodes = list(log.nodes_in(pred))
    scans = sum(1 for n in nodes if n.get("nodeName", "").startswith("Scan")
                and input_path in (n.get("metadata") or {}).get("Location", ""))
    py = sum(1 for n in nodes if "ArrowEvalPython" in n.get("nodeName", ""))
    return scans, py


def flagship_metrics(raw: dict, events_dir: str, fixture: str) -> dict[str, float]:
    log = EventLog(events_dir)
    spans: Spans = raw["spans"]
    stages = ("enriched", *(f"sink_{r}" for r in oracle.ROUTES),
              "metrics_counts", "metrics_durations", "conversation_rollup")
    sink_names = [f"sink_{r}" for r in oracle.ROUTES]
    input_path = os.path.join(fixture, "transcripts.parquet")

    def lineage(group: str) -> float:
        return sum(j["end"] - j["start"] for j in log.jobs_in(_is(group))
                   if j["callsite"].startswith("collect"))

    def self_s(tag: str, stage: str) -> float:
        return spans.wall(f"{tag}/{stage}") - lineage(f"{tag}/{stage}")

    rung = {n: [spans.wall(f"ladder{r}/{n}") for r in range(LADDER_REPS)]
            for n in ("scan", "parse", "enrich")}
    scan_s, parse_s, enrich_s = med(rung["scan"]), med(rung["parse"]), med(rung["enrich"])
    table = {k: [] for k in ("scan", "parse", "enrich", "enriched ckpt write", "route",
                             "aggregate.counts", "aggregate.durations", "group.rollup",
                             "runner.lineage", "unaccounted")}
    facts = {k: [] for k in ("scans", "py", "bytes", "jobs", "agg_shuffle",
                             "grp_shuffle", "skew")}
    for p in raw["passes"]:
        t = p["tag"]
        table["scan"].append(scan_s)
        table["parse"].append(parse_s - scan_s)
        table["enrich"].append(enrich_s - parse_s)
        table["enriched ckpt write"].append(self_s(t, "enriched") - enrich_s)
        table["route"].append(sum(self_s(t, s) for s in sink_names))
        table["aggregate.counts"].append(self_s(t, "metrics_counts"))
        table["aggregate.durations"].append(self_s(t, "metrics_durations"))
        table["group.rollup"].append(self_s(t, "conversation_rollup"))
        table["runner.lineage"].append(sum(lineage(f"{t}/{s}") for s in stages))
        table["unaccounted"].append(p["wall"] - sum(spans.wall(f"{t}/{s}") for s in stages))
        scans, py = _scan_facts(log, _under(t), input_path)
        facts["scans"].append(scans)
        facts["py"].append(py)
        facts["bytes"].append(log.task_sum(_under(t), "input_bytes"))
        facts["jobs"].append(len(log.jobs_in(_under(t))))
        facts["agg_shuffle"].append(log.task_sum(
            lambda g, t=t: g in (f"{t}/metrics_counts", f"{t}/metrics_durations"),
            "shuffle_write"))
        facts["grp_shuffle"].append(log.task_sum(_is(f"{t}/conversation_rollup"),
                                                 "shuffle_write"))
        facts["skew"].append(log.reduce_skew(_is(f"{t}/conversation_rollup")))

    def busy(pred, wall: float) -> float:
        return log.task_sum(pred, "run_s") / wall if wall > 0 else 0.0

    def rung_pred(name: str):
        return lambda g: g.startswith("ladder") and g.endswith("/" + name)

    def stage_pred(*names):
        return lambda g: g.startswith("pass") and g.split("/", 1)[-1] in names

    def stage_wall(*names) -> float:
        return sum(spans.wall(f"{p['tag']}/{s}") for p in raw["passes"] for s in names)

    lineage_jobs = [j for j in log.jobs_in(lambda g: g.startswith("pass"))
                    if j["callsite"].startswith("collect")]
    lineage_stages = {s for j in lineage_jobs for s in j["stages"]}
    lineage_run = sum(t["run_s"] for t in log.tasks if t["stage"] in lineage_stages)
    lineage_wall = sum(j["end"] - j["start"] for j in lineage_jobs)
    passes = raw["passes"]
    t0, t1 = raw["probe_window"]
    raw["table"] = {k: med(v) for k, v in table.items()}
    raw["pass_wall"] = med(p["wall"] for p in passes)
    return {
        "sources.scan_s": scan_s,
        "sources.scans_per_pass": med(facts["scans"]),
        "sources.bytes_read": med(facts["bytes"]),
        "parse.self_s": parse_s - scan_s,
        "parse.cpu_s": med(log.task_sum(_is(f"ladder{r}/parse"), "cpu_s")
                           - log.task_sum(_is(f"ladder{r}/scan"), "cpu_s")
                           for r in range(LADDER_REPS)),
        "parse.python_eval_nodes": med(facts["py"]),
        "enrich.self_s": enrich_s - parse_s,
        "enrich.broadcast_bytes": med(
            log.broadcast_bytes(_is(f"ladder{r}/enrich"))
            - log.broadcast_bytes(_is(f"ladder{r}/parse")) for r in range(LADDER_REPS)),
        "route.write_s": med(table["route"]),
        "route.rows_out": med(p["route_rows"] for p in passes),
        "route.bytes_written": med(p["route_bytes"] for p in passes),
        "route.files_written": med(p["route_files"] for p in passes),
        "aggregate.counts_s": med(table["aggregate.counts"]),
        "aggregate.durations_s": med(table["aggregate.durations"]),
        "aggregate.shuffle_bytes": med(facts["agg_shuffle"]),
        "group.rollup_s": med(table["group.rollup"]),
        "group.shuffle_bytes": med(facts["grp_shuffle"]),
        "group.task_skew": med(facts["skew"]),
        "runner.lineage_s": med(table["runner.lineage"]),
        "runner.jobs_per_pass": med(facts["jobs"]),
        "runner.ckpt_bytes": med(p["ckpt_bytes"] for p in passes),
        **streaming_metrics(raw["probe_progress"]),
        "streaming.busy_cores": log.task_sum_between(t0, t1, "run_s") / (t1 - t0),
        "sources.busy_cores": busy(rung_pred("scan"), sum(rung["scan"])),
        "parse.busy_cores": busy(rung_pred("parse"), sum(rung["parse"])),
        "enrich.busy_cores": busy(rung_pred("enrich"), sum(rung["enrich"])),
        "route.busy_cores": busy(stage_pred(*sink_names), stage_wall(*sink_names)),
        "aggregate.busy_cores": busy(stage_pred("metrics_counts", "metrics_durations"),
                                     stage_wall("metrics_counts", "metrics_durations")),
        "group.busy_cores": busy(stage_pred("conversation_rollup"),
                                 stage_wall("conversation_rollup")),
        "runner.busy_cores": lineage_run / lineage_wall if lineage_wall > 0 else 0.0,
        "jvm.gc_s": med(p["gc_s"] for p in passes),
        "tasks.failed": sum(t["failed"] for t in log.tasks),
        "trace.overhead_s": raw["pass_wall"] - med(raw["plain"]),
        "trace.unaccounted_s": med(table["unaccounted"]),
    }


# ---------------------------------------------------------------------------
# collector_config
# ---------------------------------------------------------------------------

def collector_config(fixture: str, out: str, processors=None) -> dict:
    """``collector.yaml`` bound to an input dir and an output root;
    ``processors`` optionally cuts logs/in to a prefix with one noop
    exporter (a ladder rung)."""
    import yaml

    with open(os.path.join(common.HERE, "collector.yaml")) as f:
        cfg = yaml.safe_load(f)
    cfg["receivers"]["transcripts"]["path"] = fixture
    for name, ecfg in cfg["exporters"].items():
        if name.startswith("file/"):
            ecfg["path"] = os.path.join(out, name.replace("/", "_"))
    if processors is not None:
        cfg["exporters"] = {"noop/rung": {}}
        cfg["service"]["pipelines"] = {"logs/in": {
            "receivers": ["transcripts"],
            "processors": list(processors),
            "exporters": ["noop/rung"],
        }}
    return cfg


def config_passes(spark, fixture: str, exp: dict, pass_fn) -> dict:
    """Plain runs, traced runs (build and run as separate spans) and the
    pipeline-prefix ladder. ``pass_fn(spark, cfg) -> (wall, outputs)``."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.sources.readers import read_transcripts

    work = common.WORK
    spans = Spans(spark)
    raw: dict = {"plain": [], "runs": [], "errors": [], "spans": spans}

    def plain() -> None:
        out = os.path.join(work, f"plain{len(raw['plain'])}")
        raw["plain"].append(pass_fn(spark, collector_config(fixture, out))[0])
        common.rmtree(out)

    # plain runs right before and after each traced run bracket the pass
    # time, which is still falling as the JIT warms; trace.overhead_s
    # compares the traced runs with the plain ones' median
    plain()
    full = collector_config(fixture, work)["service"]["pipelines"]["logs/in"]["processors"]
    rungs = {"receiver": []}
    for p in CONFIG_RUNGS[1:]:
        rungs[p] = full[: full.index(p) + 1]
    for r in range(CONFIG_TRACED_RUNS):
        out = os.path.join(work, f"traced{r}")
        cfg = collector_config(fixture, out)
        tag = f"run{r}"
        t0 = time.perf_counter()
        spans.timed(f"{tag}/build", lambda: CollectorConfig(cfg).build(spark))
        build = time.perf_counter() - t0
        gc0 = _gc_ms(spark)
        wall, outputs = spans.timed(f"{tag}/run", lambda: pass_fn(spark, cfg))
        rec = {"tag": tag, "build": build, "wall": wall,
               "gc_s": (_gc_ms(spark) - gc0) / 1000}
        files = [outputs[e] for e in oracle.CONFIG_EXPORTERS]
        rec["route_bytes"] = sum(_dir_stats(f)[0] for f in files)
        rec["route_files"] = sum(_dir_stats(f)[1] for f in files)
        rec["route_rows"] = sum(oracle.count_rows(f) for f in files)
        raw["errors"] += [f"traced run {r}: {e}" for e in oracle.check_config(outputs, exp)]
        raw["runs"].append(rec)
        common.rmtree(out)
        plain()
        spans.timed(f"{tag}/scan", lambda: _noop(read_transcripts(spark, fixture)))
        for name, prefix in rungs.items():
            c = collector_config(fixture, out, prefix)
            spans.timed(f"{tag}/{name}",
                        lambda c=c: _noop(CollectorConfig(c).build(spark)["noop/rung"]))
    spans.write(os.path.join(work, "spans.json"))
    return raw


def config_metrics(raw: dict, events_dir: str, fixture: str) -> dict[str, float]:
    log = EventLog(events_dir)
    spans: Spans = raw["spans"]
    runs = raw["runs"]
    input_path = os.path.join(fixture, "transcripts.parquet")

    def rung(name: str) -> float:
        return med(spans.wall(f"{r['tag']}/{name}") for r in runs)

    def cpu(name: str) -> float:
        return med(log.task_sum(_is(f"{r['tag']}/{name}"), "cpu_s") for r in runs)

    def busy(name: str) -> float:
        wall = sum(spans.wall(f"{r['tag']}/{name}") for r in runs)
        pred = lambda g: g.split("/", 1)[-1] == name and g.startswith("run")  # noqa: E731
        return log.task_sum(pred, "run_s") / wall if wall > 0 else 0.0

    facts = {k: [] for k in ("scans", "py", "bytes", "shuffle", "in_jobs")}
    for r in runs:
        scans, py = _scan_facts(log, _is(f"{r['tag']}/run"), input_path)
        facts["scans"].append(scans)
        facts["py"].append(py)
        facts["bytes"].append(log.task_sum(_is(f"{r['tag']}/run"), "input_bytes"))
        facts["shuffle"].append(log.task_sum(_is(f"{r['tag']}/run"), "shuffle_write"))
        facts["in_jobs"].append(sum(j["end"] - j["start"]
                                    for j in log.jobs_in(_is(f"{r['tag']}/run"))))
    build = med(r["build"] for r in runs)
    wall = med(r["wall"] for r in runs)
    exporter = med(r["wall"] - r["build"] for r in runs)
    raw["table"] = {
        "config.build": build,
        "exporter Spark jobs": med(facts["in_jobs"]),
        "exporter outside jobs": exporter - med(facts["in_jobs"]),
    }
    raw["ladder"] = {n: rung(n) for n in ("scan", *CONFIG_RUNGS)}
    raw["pass_wall"] = wall
    return {
        "sources.scan_s": rung("scan"),
        "sources.scans_per_pass": med(facts["scans"]),
        "sources.bytes_read": med(facts["bytes"]),
        "parse.self_s": rung("receiver") - rung("scan"),
        "parse.cpu_s": cpu("receiver") - cpu("scan"),
        "parse.python_eval_nodes": med(facts["py"]),
        "route.write_s": exporter,
        "route.rows_out": med(r["route_rows"] for r in runs),
        "route.bytes_written": med(r["route_bytes"] for r in runs),
        "route.files_written": med(r["route_files"] for r in runs),
        "aggregate.shuffle_bytes": med(facts["shuffle"]),
        "config.build_s": build,
        "ottl.transform_s": rung("transform/tag") - rung("attributes/stamp"),
        "ottl.filter_s": rung("filter/drop_system") - rung("transform/tag"),
        "config.exporter_s": exporter,
        "sources.busy_cores": busy("scan"),
        "parse.busy_cores": busy("receiver"),
        "route.busy_cores": busy("run"),
        "jvm.gc_s": med(r["gc_s"] for r in runs),
        "tasks.failed": sum(t["failed"] for t in log.tasks),
        "trace.overhead_s": wall - med(raw["plain"]),
        "trace.unaccounted_s": exporter - med(facts["in_jobs"]),
    }


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-micro-batch figures from a query's progress reports."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in batches]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in batches]
    return {
        "streaming.batch_s_p50": med(trig),
        "streaming.add_batch_s_p50": med(add),
        "streaming.overhead_s_p50": med(t - a for t, a in zip(trig, add)),
        "streaming.rows_per_batch_p50": med(p["numInputRows"] for p in batches),
        "streaming.batches": len(batches),
    }


def print_table(title: str, rows: dict[str, float], total: float) -> None:
    print(f"# {title}")
    for k, v in rows.items():
        print(f"#   {k:<24} {v:8.3f} s  {100 * v / total:5.1f}%")
    print(f"#   {'sum':<24} {sum(rows.values()):8.3f} s  vs pass wall {total:.3f} s")


# Times of layers that only one benchmark workload exercises. On the other
# workload they would read exactly 0 s on every run, so they are printed
# with the run's context lines instead of being per-layer metrics.
ONE_WORKLOAD_TIMES = (
    "enrich.self_s", "aggregate.counts_s", "aggregate.durations_s",
    "group.rollup_s", "runner.lineage_s", "config.build_s",
    "ottl.transform_s", "ottl.filter_s", "config.exporter_s",
    "streaming.batch_s_p50", "streaming.add_batch_s_p50",
    "streaming.overhead_s_p50",
)


def all_metrics(measured: dict[str, float]) -> tuple[dict[str, tuple[float, str]], dict]:
    """(every per-layer metric, bypassed layers as 0; the measured
    one-workload layer times, for the context lines)."""
    metrics = {k: (float(measured.get(k, 0.0)), u) for k, u in LAYER_METRICS.items()
               if k not in ONE_WORKLOAD_TIMES}
    extra = {k: round(measured[k], 4) for k in ONE_WORKLOAD_TIMES if k in measured}
    return metrics, extra
