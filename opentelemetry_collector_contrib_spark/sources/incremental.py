"""Incremental file-level ingest — the filelog receiver's checkpointed
tail, batch form.

Reference analog: the collector's fileconsumer keeps a fingerprint →
offset map in the storage extension so each poll reads only bytes it has
not consumed (pkg/stanza/fileconsumer/file.go:107 poll loop,
internal/checkpoint/checkpoint.go:20-45, design.md fingerprints §). For
an immutable-file table (parquet/Iceberg data files are never appended
in place) the natural offset granularity is the FILE: a poll processes
exactly the files that have appeared (or changed) since the last
committed poll, and appends their transformed rows to a cumulative
output table. At 10^12 turns with daily arrivals this is the difference
between reprocessing the corpus and processing the delta.

Differences from plans/runner.PipelineRunner (stage-level resume): the
runner skips a stage only when its WHOLE input fingerprint is unchanged —
any new source file recomputes the stage over everything. This source
makes the ingest stage itself incremental; downstream stages can then
hang off the cumulative table (append-only, so count/sum-style
aggregates are re-runnable or maintainable as partial rollups).

Exactly-once contract (same shape as the streaming sinks'
batch_id-scoped idempotence): each poll writes to its own
``batch_id=N`` subdirectory with mode=overwrite, THEN commits the file
set via tmp-file + os.replace. A crash between the two replays the same
batch into the same directory — overwrite, not duplicate. Readers see
the union of committed batch directories through a plain partitioned
read (the batch_id partition column doubles as ingest lineage).

On a table format with snapshots (Iceberg), the watermark would be the
last committed snapshot ID instead of the file set: a poll reads the
rows appended between that snapshot and a current snapshot pinned
BEFORE the read, writes them under the next batch id, then commits the
new watermark with the same write-then-replace order.

Scale notes: state is O(files) driver-side JSON — the same cardinality
the collector's storage extension carries; listings use os.walk once per
poll. Batches are parquet; a batch's row count is summed from the
footers of the part files it just wrote (plans/runner.footer_lineage),
so counting submits no Spark job.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.runner import footer_lineage
from .readers import local_frame

STATE_FILE = "_ingest_state.json"


def _list_files(input_dir: str) -> dict[str, list]:
    """{relpath: [size, mtime_ns]} for every data file under input_dir
    (a single-file path is a one-file table, same as
    plans/runner.source_fingerprint)."""
    out: dict[str, list] = {}
    if os.path.isfile(input_dir):
        st = os.stat(input_dir)
        out[os.path.basename(input_dir)] = [st.st_size, st.st_mtime_ns]
        return out
    for root, _dirs, files in os.walk(input_dir):
        for name in sorted(files):
            if name.startswith((".", "_")):
                continue
            fp = os.path.join(root, name)
            st = os.stat(fp)
            out[os.path.relpath(fp, input_dir)] = [st.st_size, st.st_mtime_ns]
    return out


class IncrementalFileSource:
    """Checkpointed incremental scan over a growing directory of
    immutable data files.

    ``poll(transform)`` lists the directory, diffs against the committed
    file set, runs ``transform(new_files_df)`` over ONLY the new/changed
    files, writes the result to ``out_dir/batch_id=N/`` (overwrite →
    idempotent replay), and commits the updated file set. Returns the
    batch info dict, or None when nothing is new.
    """

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        out_dir: str,
    ) -> None:
        self.spark = spark
        self.input_dir = input_dir
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)

    # -- state --------------------------------------------------------------
    def _state_path(self) -> str:
        return os.path.join(self.out_dir, STATE_FILE)

    def _load_state(self) -> dict:
        try:
            with open(self._state_path()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {"files": {}, "batches": []}

    def _commit_state(self, state: dict) -> None:
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, self._state_path())

    def _owner_map(self, state: dict) -> dict[str, int]:
        """Which committed batch currently owns each file's rows. Derived
        from batch records for states written before ownership tracking
        existed (later batches win, matching the old overwrite order)."""
        owner: dict[str, int] = {}
        for b in state["batches"]:
            if b["batch_id"] in set(state.get("superseded", [])):
                continue
            for rel in b.get("new_files", []):
                owner[rel] = b["batch_id"]
        return owner

    # -- polling ------------------------------------------------------------
    def pending_files(self) -> list[str]:
        """Relative paths that are new or changed since the last commit
        (a changed (size, mtime) pair reprocesses the file — the analog
        of fileconsumer detecting truncation/rewrite)."""
        state = self._load_state()
        current = _list_files(self.input_dir)
        return sorted(
            rel for rel, sig in current.items()
            if state["files"].get(rel) != sig
        )

    def poll(
        self,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ) -> dict | None:
        """Process the delta since the last committed poll.

        Rewrite semantics (exactly-once under mutation): when a committed
        file changes (size/mtime), its OLD rows live in an earlier batch
        directory that a plain cumulative read would still include. Row-
        level deletion inside a committed immutable batch isn't possible
        without rewriting it, so supersession happens at batch
        granularity: every still-live file owned by an affected batch is
        re-read (current content) into the NEW batch, and the affected
        old batches are marked superseded — table() skips them. Rewrites
        are rare for immutable data files, so occasionally re-reading one
        old batch's worth of files is the cheap side of the trade; the
        common append-only path still processes only the new files.
        (Reference analog: fileconsumer re-reads from offset 0 when the
        fingerprint changes — pkg/stanza/fileconsumer/file.go truncation
        detection.)
        """
        state = self._load_state()
        state.setdefault("superseded", [])
        current = _list_files(self.input_dir)
        delta = sorted(
            rel for rel, sig in current.items()
            if state["files"].get(rel) != sig
        )
        # a committed file that vanished is the other half of a rewrite
        # (overwrite = delete old part + add new part) or a retention
        # delete; either way its old rows must leave the cumulative view
        missing = sorted(
            rel for rel in state["files"] if rel not in current
        )
        if not delta and not missing:
            return None

        owner = self._owner_map(state)
        affected = sorted({
            owner[rel]
            for rel in (*delta, *missing)
            if rel in owner
        })
        # all still-live files of a superseded batch ride along into the
        # new batch so their rows survive the batch-level exclusion
        carried = sorted(
            rel for rel, b in owner.items()
            if b in set(affected) and rel in current and rel not in set(delta)
        )
        to_process = sorted(set(delta) | set(carried))
        for rel in missing:
            state["files"].pop(rel, None)

        if not to_process:
            # pure deletion: nothing to (re)ingest — just retire batches
            state["superseded"] = sorted(
                set(state["superseded"]) | set(affected)
            )
            self._commit_state(state)
            return {
                "batch_id": None,
                "n_new_files": 0,
                "new_files": [],
                "changed_files": [],
                "removed_files": missing,
                "rows_out": 0,
                "supersedes": affected,
            }

        batch_id = len(state["batches"])
        if os.path.isfile(self.input_dir):
            paths = [self.input_dir]
        else:
            paths = [os.path.join(self.input_dir, rel) for rel in to_process]
        df = self.spark.read.parquet(*paths)
        if transform is not None:
            # context-aware transforms (df, ctx) learn which batches this
            # poll supersedes BEFORE the state commit — anything that
            # dedups the batch against table() must exclude those batches
            # or the carried files' rows anti-join against their own old
            # hashes and vanish from the corpus once the batch retires
            ctx = {"batch_id": batch_id, "supersedes": list(affected)}
            df = self._apply_transform(transform, df, ctx)

        # idempotent batch-scoped sink: replay after a crash between the
        # write and the state commit overwrites the SAME directory
        batch_dir = os.path.join(self.out_dir, f"batch_id={batch_id}")
        df.write.mode("overwrite").parquet(batch_dir)
        rows_out = sum(p["rows"] for p in footer_lineage(batch_dir))

        record = {
            "batch_id": batch_id,
            "n_new_files": len(delta),
            "new_files": to_process,
            "changed_files": sorted(set(delta) & set(owner)),
            "removed_files": missing,
            "rows_out": rows_out,
            "supersedes": affected,
        }
        state["files"].update({rel: current[rel] for rel in to_process})
        state["batches"].append(record)
        state["superseded"] = sorted(set(state["superseded"]) | set(affected))
        self._commit_state(state)
        return record

    @staticmethod
    def _apply_transform(transform, df: DataFrame, ctx: dict) -> DataFrame:
        """Call transform(df, ctx) when it takes two positional args,
        else transform(df) — keeps plain single-arg transforms working."""
        import inspect

        try:
            params = [
                p
                for p in inspect.signature(transform).parameters.values()
                if p.kind
                in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD, p.VAR_POSITIONAL)
            ]
            takes_ctx = len(params) >= 2 or any(
                p.kind == p.VAR_POSITIONAL for p in params
            )
        except (TypeError, ValueError):  # builtins/C callables
            takes_ctx = False
        return transform(df, ctx) if takes_ctx else transform(df)

    # -- reading back --------------------------------------------------------
    def table(self, exclude_batches=None) -> DataFrame:
        """The cumulative output across all committed batches; batch_id is
        a partition column (ingest lineage, prunable). mergeSchema
        handles upstream schema evolution — a later batch adding a column
        surfaces it table-wide with NULLs for older batches (the same
        contract an Iceberg schema evolution gives).

        ``exclude_batches``: additional batch ids to skip — a mid-poll
        transform passes the poll's ``supersedes`` set here so it never
        reads rows that are about to be retired."""
        state = self._load_state()
        dead = set(state.get("superseded", [])) | set(exclude_batches or ())
        committed = [
            b["batch_id"] for b in state["batches"]
            if b["batch_id"] not in dead
        ]
        if not committed:
            raise FileNotFoundError(f"no committed batches in {self.out_dir}")
        return (
            self.spark.read.option("basePath", self.out_dir)
            .option("mergeSchema", "true")
            .parquet(*[
                os.path.join(self.out_dir, f"batch_id={b}") for b in committed
            ])
        )

    def metrics(self) -> DataFrame:
        """One row per committed poll: batch_id, files, rows."""
        state = self._load_state()
        return local_frame(
            self.spark,
            [
                (b["batch_id"], b["n_new_files"], b["rows_out"])
                for b in state["batches"]
            ],
            "batch_id int, n_new_files int, rows_out long",
        )


class MaintainedRollup:
    """Incrementally-maintained aggregate over an append-only ingest —
    the count/sum connector kept current across polls without rescanning
    the corpus.

    Per batch, ``update`` writes a PARTIAL aggregate (groupBy keys →
    count + per-measure sum) to ``agg_dir/batch_id=N`` (overwrite →
    idempotent replay, same contract as the ingest batches), THEN commits
    the batch id to a manifest (tmp + os.replace — the same two-phase
    commit the ingest uses). ``snapshot`` merges ONLY manifest-committed
    partials, so an orphaned directory from a crashed update (or any
    stray batch_id=* dir) never inflates the aggregate — mirroring
    IncrementalFileSource.table()'s committed-batch read. ``retract``
    drops a batch from the manifest; call it for batches the ingest
    marked superseded (record["supersedes"]) before updating with the
    replacement batch. snapshot() is O(batches × groups) rows, never
    O(ingested rows). Only algebraic measures are offered (count/sum
    merge by sum, exactly as a partial HashAggregate merges); holistic
    aggregates (distinct, median) need the corpus and belong on the
    cumulative table instead.
    """

    MANIFEST = "_rollup_state.json"

    def __init__(
        self,
        spark: SparkSession,
        agg_dir: str,
        keys: list[str],
        sum_cols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.agg_dir = agg_dir
        self.keys = list(keys)
        self.sum_cols = list(sum_cols or [])
        os.makedirs(agg_dir, exist_ok=True)

    def _partial(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n")]
        aggs += [F.sum(c).alias(f"sum_{c}") for c in self.sum_cols]
        return df.groupBy(*self.keys).agg(*aggs)

    def _manifest_path(self) -> str:
        return os.path.join(self.agg_dir, self.MANIFEST)

    def _load_manifest(self) -> list[int]:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)["batches"]
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return []

    def _commit_manifest(self, batches: list[int]) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batches": sorted(set(batches))}, f)
        os.replace(tmp, self._manifest_path())

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        part_dir = os.path.join(self.agg_dir, f"batch_id={batch_id}")
        self._partial(batch_df).write.mode("overwrite").parquet(part_dir)
        self._commit_manifest([*self._load_manifest(), batch_id])

    def retract(self, batch_id: int) -> None:
        """Drop a (superseded) batch's partial from the merged view."""
        self._commit_manifest(
            [b for b in self._load_manifest() if b != batch_id]
        )

    def committed_batches(self) -> list[int]:
        return self._load_manifest()

    def snapshot(self) -> DataFrame:
        """Merged aggregate across manifest-committed batches only."""
        committed = self._load_manifest()
        if not committed:
            raise FileNotFoundError(
                f"no committed rollup batches in {self.agg_dir}"
            )
        merged = self.spark.read.option("basePath", self.agg_dir).parquet(
            *[os.path.join(self.agg_dir, f"batch_id={b}") for b in committed]
        )
        aggs = [F.sum("n").alias("n")]
        aggs += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in self.sum_cols]
        return merged.groupBy(*self.keys).agg(*aggs)


def sync_rollup(src: IncrementalFileSource, roll: MaintainedRollup) -> dict:
    """Reconcile a MaintainedRollup against the ingest source's committed
    state — the idempotent recovery step that makes the rollup exact no
    matter when it runs: after a crash between the ingest commit and the
    rollup update, after enabling the rollup on a table with existing
    batches, or after a poll superseded batches. Retracts manifest
    entries the source no longer counts, adds committed batches the
    manifest lacks (reading each back from its batch directory). Safe to
    run on every poll; a fully-synced state is a no-op."""
    state = src._load_state()
    dead = set(state.get("superseded", []))
    committed = {
        b["batch_id"] for b in state["batches"] if b["batch_id"] not in dead
    }
    have = set(roll.committed_batches())
    retracted = sorted(have - committed)
    for b in retracted:
        roll.retract(b)
    added = sorted(committed - have)
    if added:
        tbl = src.table()
        for b in added:
            roll.update(tbl.filter(F.col("batch_id") == b), b)
    return {"retracted": retracted, "added": added}
