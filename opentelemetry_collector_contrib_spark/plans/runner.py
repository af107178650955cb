"""Pipeline runner with per-stage checkpoints, lineage, and resume
(SURVEY.md §7 Stage 4; north rule: "resumable from checkpoint with
per-partition lineage + metrics tables").

Reference analog: the collector persists filelog reader offsets through a
storage extension so a restart resumes where ingest stopped
(pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-45,
pkg/stanza/adapter/storage.go:14-33). Our unit of progress is a *stage*,
not a byte offset: each stage's output DataFrame is materialized to a
parquet checkpoint, and a `_pipeline_state` record commits (stage name,
input fingerprint, per-output-file row counts = partition lineage, row
count, wall seconds). A rerun skips every stage whose committed state
matches the current input fingerprint and replays downstream stages from
the checkpointed parquet instead of recomputing upstream.

Fingerprints play the role of Iceberg snapshot IDs: a source fingerprint
hashes the file listing (relative path, size, mtime); a stage fingerprint
hashes (stage name, its code-version tag, upstream fingerprints). With an
Iceberg catalog, fingerprints would become real snapshot IDs and the
lineage would come from the snapshot's data-file manifest; the control
flow is unchanged (the state record is engine-agnostic JSON either way).

Scheduling: stages form a DAG through ``deps``. Each stage starts on a
worker thread as soon as every stage it depends on has committed, so the
fan-out below one root (the flagship's sinks and aggregates all read
``enriched``) runs as concurrent Spark jobs. The worker threads inherit
the caller's job group, job tags and local properties.

Atomicity: parquet checkpoint is written first (Spark's own _SUCCESS
commit protocol), then the state JSON lands via tmp-file + os.replace —
a crash between the two re-runs the stage, never serves half a table.

Scale notes: state records are O(stages), not O(rows) — driver-side JSON
is fine at any data scale. Lineage per-file row counts are read
in-process from the footers of the part files the write just produced.
A fresh checkpoint is loaded with the schema the write already knows,
and a resumed one with the schema of one of its footers
(``sources.readers.read_parquet``), so no Spark job reads a checkpoint
back.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable, Mapping
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from types import MappingProxyType

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..sources.readers import local_frame, read_parquet

STATE_DIR = "_pipeline_state"


def source_fingerprint(path: str) -> str:
    """Snapshot-ID analog for a file-based table: hash of the sorted
    (relpath, size, mtime_ns) listing. Any data change changes it."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}".encode())
    else:
        for root, _dirs, files in sorted(os.walk(path)):
            for name in sorted(files):
                if name.startswith((".", "_")):
                    continue
                fp = os.path.join(root, name)
                st = os.stat(fp)
                rel = os.path.relpath(fp, path)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def footer_lineage(ckpt: str) -> list[dict]:
    """Per-file row counts of a parquet checkpoint, read from the part
    files' footers in-process (no Spark job). Zero-row files are left
    out, as a ``groupBy(input_file_name())`` over the checkpoint would."""
    lineage = []
    for name in sorted(os.listdir(ckpt)):
        if not name.startswith((".", "_")):
            rows = pq.read_metadata(os.path.join(ckpt, name)).num_rows
            if rows:
                lineage.append({"file": name, "rows": rows})
    return lineage


@dataclass
class Stage:
    """One pipeline stage.

    ``fn(spark, ctx) -> DataFrame`` where ctx is a read-only mapping of
    upstream stage names → their committed, checkpoint-backed DataFrames.
    ``fn`` may read only ``ctx[d]`` for ``d`` in ``deps``: the runner
    starts a stage as soon as those stages have committed, possibly while
    unrelated stages are still running. ``deps`` may also name external
    sources (keys of the runner's ``source_fingerprints``); those feed the
    fingerprint but do not wait for anything. ``version`` bumps the
    fingerprint when stage code changes semantics.
    """

    name: str
    fn: Callable[[SparkSession, Mapping[str, DataFrame]], DataFrame]
    deps: list[str] = field(default_factory=list)
    version: str = "1"
    # (key, n_buckets): checkpoint this stage BUCKETED by key — pays the
    # key's shuffle once at write time so every downstream consumer
    # (rollup, recombine, conv-level joins) reads it Exchange-free. See
    # plans/bucketing.py for the layout contract.
    bucket_by: tuple[str, int] | None = None
    sort_by: list[str] | None = None


class PipelineRunner:
    def __init__(self, spark: SparkSession, checkpoint_root: str) -> None:
        self.spark = spark
        self.root = checkpoint_root
        os.makedirs(os.path.join(self.root, STATE_DIR), exist_ok=True)
        # observability for tests & logs: which stages actually computed
        self.computed: list[str] = []
        self.skipped: list[str] = []

    # -- state records ----------------------------------------------------
    def _state_path(self, stage: str) -> str:
        return os.path.join(self.root, STATE_DIR, f"{stage}.json")

    def _load_state(self, stage: str) -> dict | None:
        try:
            with open(self._state_path(stage)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _commit_state(self, stage: str, record: dict) -> None:
        tmp = self._state_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f, indent=1)
        os.replace(tmp, self._state_path(stage))

    def _ckpt_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _ckpt_table(self, stage: str) -> str:
        return f"ckpt_{stage}"

    def _load_ckpt(self, stage: Stage, ckpt: str) -> DataFrame:
        """Read a stage checkpoint back. Bucketed checkpoints MUST come
        through the catalog (a bare read.parquet(path) loses the bucket
        metadata and reintroduces the shuffle); after a restart the
        in-memory catalog is empty, so re-register the external table
        from the checkpoint's own schema first."""
        if stage.bucket_by is None:
            return read_parquet(self.spark, ckpt)
        tbl = self._ckpt_table(stage.name)
        if not self.spark.catalog.tableExists(tbl):
            key, n = stage.bucket_by
            ddl = read_parquet(self.spark, ckpt).schema.toDDL()
            sorted_by = (
                f"SORTED BY ({', '.join(stage.sort_by)}) " if stage.sort_by else ""
            )
            self.spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING parquet "
                f"CLUSTERED BY ({key}) {sorted_by}INTO {n} BUCKETS "
                f"LOCATION '{os.path.abspath(ckpt)}'"
            )
        return self.spark.table(tbl)

    # -- fingerprints ------------------------------------------------------
    def _stage_fingerprint(
        self, stage: Stage, fingerprints: dict[str, str]
    ) -> str:
        h = hashlib.sha256()
        h.update(f"{stage.name}@{stage.version}".encode())
        for dep in stage.deps:
            h.update(f"|{dep}={fingerprints[dep]}".encode())
        return h.hexdigest()[:16]

    # -- execution ---------------------------------------------------------
    def _run_stage(
        self,
        stage: Stage,
        fingerprints: dict[str, str],
        ctx: Mapping[str, DataFrame],
    ) -> tuple[DataFrame, bool]:
        """Resume or compute one stage; returns (checkpoint-backed output,
        whether it was computed)."""
        fp = fingerprints[stage.name]
        state = self._load_state(stage.name)
        ckpt = self._ckpt_path(stage.name)
        if (
            state is not None
            and state.get("fingerprint") == fp
            and state.get("status") == "committed"
            and os.path.exists(os.path.join(ckpt, "_SUCCESS"))
        ):
            return self._load_ckpt(stage, ckpt), False

        t0 = time.time()
        df = stage.fn(self.spark, ctx)
        if stage.bucket_by is not None:
            from .bucketing import write_bucketed

            key, n = stage.bucket_by
            write_bucketed(
                df, self._ckpt_table(stage.name), ckpt, n, key,
                sort_cols=stage.sort_by,
            )
            out = self._load_ckpt(stage, ckpt)
        else:
            df.write.mode("overwrite").parquet(ckpt)
            # the write's schema is the checkpoint's: passing it skips the
            # schema-inference job that a bare read.parquet submits
            out = self.spark.read.schema(df.schema).parquet(ckpt)
        # per-partition lineage: output file ↔ write task; rows per file
        lineage = footer_lineage(ckpt)
        self._commit_state(
            stage.name,
            {
                "stage": stage.name,
                "fingerprint": fp,
                "status": "committed",
                "rows_out": int(sum(p["rows"] for p in lineage)),
                "n_files": len(lineage),
                "partitions": lineage,
                "wall_s": round(time.time() - t0, 3),
                "deps": {d: fingerprints[d] for d in stage.deps},
            },
        )
        return out, True

    def run(
        self,
        stages: list[Stage],
        source_fingerprints: dict[str, str] | None = None,
    ) -> dict[str, DataFrame]:
        """Run the stage DAG; resume from committed checkpoints.

        ``source_fingerprints`` seeds the fingerprint map for external
        inputs referenced in ``deps`` (e.g. {"transcripts": source_fingerprint(dir)}).
        Each stage runs on its own worker thread once every stage in its
        ``deps`` has committed. If a stage raises, no further stage
        starts, the running ones finish and commit, and the first error
        is re-raised. Returns {stage name: DataFrame} in declaration
        order — checkpoint-backed for every stage; ``computed`` and
        ``skipped`` list stage names in declaration order too.
        """
        fingerprints = dict(source_fingerprints or {})
        for stage in stages:
            fingerprints[stage.name] = self._stage_fingerprint(stage, fingerprints)
        names = {s.name for s in stages}
        outputs: dict[str, DataFrame] = {}
        computed: dict[str, bool] = {}
        pending = list(stages)
        running = {}
        error: Exception | None = None

        with ThreadPoolExecutor(max_workers=max(len(stages), 1)) as pool:
            while True:
                if error is None:
                    for stage in [s for s in pending
                                  if all(d in outputs for d in s.deps if d in names)]:
                        pending.remove(stage)
                        ctx = MappingProxyType(
                            {d: outputs[d] for d in stage.deps if d in names})
                        target = inheritable_thread_target(self.spark)(self._run_stage)
                        running[pool.submit(target, stage, fingerprints, ctx)] = stage
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    stage = running.pop(fut)
                    try:
                        outputs[stage.name], computed[stage.name] = fut.result()
                    except Exception as e:
                        if error is None:
                            error = e
                        else:
                            error.add_note(f"stage {stage.name!r} also failed: {e!r}")

        self.computed = [s.name for s in stages if computed.get(s.name)]
        self.skipped = [s.name for s in stages if computed.get(s.name) is False]
        if error is not None:
            raise error
        return {s.name: outputs[s.name] for s in stages}

    def metrics_table(self) -> DataFrame:
        """The `_pipeline_state` metrics table as a DataFrame (one row per
        committed stage: rows_out, n_files, wall_s, fingerprint)."""
        state_dir = os.path.join(self.root, STATE_DIR)
        recs = []
        for name in sorted(os.listdir(state_dir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(state_dir, name)) as f:
                r = json.load(f)
            recs.append(
                (
                    r["stage"],
                    r["fingerprint"],
                    r["status"],
                    r["rows_out"],
                    r["n_files"],
                    float(r["wall_s"]),
                )
            )
        return local_frame(
            self.spark,
            recs,
            "stage string, fingerprint string, status string, "
            "rows_out long, n_files int, wall_s double",
        )
