"""Incremental file-level ingest: process only the delta, idempotent
replay, cumulative read-back (sources/incremental.py — the filelog
fingerprint-checkpoint analog, fileconsumer/internal/checkpoint).
"""

import json
import os

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.sources.incremental import (
    STATE_FILE,
    IncrementalFileSource,
)


def _write_part(spark, input_dir, name, lo, hi):
    (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(input_dir, name))
    )


def test_incremental_processes_only_new_files(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _write_part(spark, input_dir, "day=1", 0, 100)

    src = IncrementalFileSource(spark, input_dir, out_dir)
    rec = src.poll(lambda df: df.withColumn("v3", F.col("v") * 3))
    assert rec["batch_id"] == 0 and rec["rows_out"] == 100

    # nothing new → no work
    assert src.poll() is None
    assert src.pending_files() == []

    # append a new file: ONLY it is processed
    _write_part(spark, input_dir, "day=2", 100, 150)
    rec2 = src.poll(lambda df: df.withColumn("v3", F.col("v") * 3))
    assert rec2["batch_id"] == 1 and rec2["rows_out"] == 50
    assert all("day=2" in f for f in rec2["new_files"])

    # cumulative table has everything exactly once, with batch lineage
    tbl = src.table()
    assert tbl.count() == 150
    assert tbl.select("id").distinct().count() == 150
    got = {
        r["batch_id"]: r["n"]
        for r in tbl.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == {0: 100, 1: 50}
    m = {r["batch_id"]: r["rows_out"] for r in src.metrics().collect()}
    assert m == {0: 100, 1: 50}


def test_incremental_replay_is_idempotent(spark, tmp_path):
    """Crash between the batch write and the state commit: the replayed
    poll overwrites the same batch directory — no duplicates."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _write_part(spark, input_dir, "day=1", 0, 80)

    src = IncrementalFileSource(spark, input_dir, out_dir)
    src.poll()

    # simulate the crash: roll the committed state back to pre-poll
    # (the batch_id=0 output directory remains on disk)
    with open(os.path.join(out_dir, STATE_FILE), "w") as f:
        json.dump({"files": {}, "batches": []}, f)

    rec = src.poll()  # replay
    assert rec["batch_id"] == 0 and rec["rows_out"] == 80
    assert src.table().count() == 80  # overwritten, not doubled


def test_incremental_reprocesses_changed_file(spark, tmp_path):
    """A rewritten file (size/mtime change) is picked up again — the
    truncation/rewrite detection analog."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _write_part(spark, input_dir, "day=1", 0, 10)

    src = IncrementalFileSource(spark, input_dir, out_dir)
    assert src.poll()["rows_out"] == 10

    _write_part(spark, input_dir, "day=1", 0, 25)  # rewrite in place
    pend = src.pending_files()
    assert pend and all("day=1" in f for f in pend)
    rec = src.poll()
    assert rec["batch_id"] == 1 and rec["rows_out"] == 25
    assert rec["supersedes"] == [0]

    # the rewritten file's OLD rows must NOT double-count: batch 0 is
    # superseded, table() sees exactly the current file contents
    tbl = src.table()
    assert tbl.count() == 25
    assert tbl.select("id").distinct().count() == 25
    assert tbl.filter(F.col("batch_id") == 0).count() == 0


def test_rewrite_carries_sibling_files_forward(spark, tmp_path):
    """Superseding a batch that owned TWO files re-reads the unchanged
    sibling into the new batch so its rows survive the exclusion."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _write_part(spark, input_dir, "day=1", 0, 10)
    _write_part(spark, input_dir, "day=2", 10, 30)

    src = IncrementalFileSource(spark, input_dir, out_dir)
    assert src.poll()["rows_out"] == 30  # batch 0 owns both files

    _write_part(spark, input_dir, "day=1", 0, 5)  # rewrite one of them
    rec = src.poll()
    assert rec["supersedes"] == [0]
    assert any("day=2" in f for f in rec["new_files"])  # carried sibling

    tbl = src.table()
    assert tbl.count() == 25  # 5 rewritten + 20 untouched
    assert tbl.select("id").distinct().count() == 25

    # append-only fast path is preserved: a purely-new file afterwards
    # processes only itself
    _write_part(spark, input_dir, "day=3", 100, 110)
    rec3 = src.poll()
    assert rec3["rows_out"] == 10 and rec3["supersedes"] == []
    assert src.table().count() == 35


def test_maintained_rollup_matches_full_recompute(spark, tmp_path):
    """Per-batch partial aggregates merged algebraically equal a full
    groupBy over the cumulative table — without rescanning it."""
    from opentelemetry_collector_contrib_spark.sources.incremental import (
        MaintainedRollup,
    )

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    agg_dir = str(tmp_path / "agg")
    src = IncrementalFileSource(spark, input_dir, out_dir)
    roll = MaintainedRollup(
        spark, agg_dir, keys=["k"], sum_cols=["v"]
    )

    def ingest():
        rec = src.poll(lambda df: df.withColumn("k", F.col("id") % 3))
        roll.update(src.table().filter(F.col("batch_id") == rec["batch_id"]),
                    rec["batch_id"])
        return rec

    _write_part(spark, input_dir, "day=1", 0, 90)
    ingest()
    _write_part(spark, input_dir, "day=2", 90, 140)
    ingest()

    got = {r["k"]: (r["n"], r["sum_v"]) for r in roll.snapshot().collect()}
    want = {
        r["k"]: (r["n"], r["sum_v"])
        for r in src.table()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want and len(got) == 3

    # replaying a batch update is idempotent (overwrite, not double-count)
    roll.update(src.table().filter(F.col("batch_id") == 1), 1)
    got2 = {r["k"]: (r["n"], r["sum_v"]) for r in roll.snapshot().collect()}
    assert got2 == want

    # an orphaned partial (crashed update: data on disk, never committed
    # to the manifest) is invisible to snapshot()
    spark.range(0, 1000).select(
        (F.col("id") % 3).alias("k"),
        F.lit(1).alias("n"),
        F.lit(10**6).alias("sum_v"),
    ).write.parquet(os.path.join(agg_dir, "batch_id=7"))
    got3 = {r["k"]: (r["n"], r["sum_v"]) for r in roll.snapshot().collect()}
    assert got3 == want

    # retract drops a superseded batch's contribution
    roll.retract(1)
    got4 = {r["k"]: (r["n"], r["sum_v"]) for r in roll.snapshot().collect()}
    want_b0 = {
        r["k"]: (r["n"], r["sum_v"])
        for r in src.table()
        .filter(F.col("batch_id") == 0)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got4 == want_b0


def test_config_exporter_rotation_compression(spark, tmp_path):
    """YAML exporter rotation/compression options reach the write."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.fixtures import (
        ensure_fixture_dir,
    )

    fx = ensure_fixture_dir("sf0.001")
    out = str(tmp_path / "exported")
    cfg = CollectorConfig({
        "receivers": {"transcripts": {"path": fx}},
        "exporters": {
            "file": {
                "path": out,
                "group_by": "severity_text",
                "rotation": {"max_records_per_file": 200},
                "compression": "zstd",
            }
        },
        "service": {
            "pipelines": {
                "logs": {"receivers": ["transcripts"], "exporters": ["file"]}
            }
        },
    })
    cfg.run(spark)
    role_dirs = [d for d in os.listdir(out) if d.startswith("severity_text=")]
    assert role_dirs
    files = [
        f for f in os.listdir(os.path.join(out, role_dirs[0]))
        if f.endswith(".parquet")
    ]
    assert files and all(".zstd." in f for f in files)
    # rotation: every file obeys the row cap
    for d in role_dirs:
        for f in os.listdir(os.path.join(out, d)):
            if f.endswith(".parquet"):
                n = spark.read.parquet(os.path.join(out, d, f)).count()
                assert n <= 200


def test_incremental_schema_evolution(spark, tmp_path):
    """A later batch adding a column surfaces it table-wide, NULL for
    rows from older batches (mergeSchema on the cumulative read)."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    src = IncrementalFileSource(spark, input_dir, out_dir)

    _write_part(spark, input_dir, "day=1", 0, 30)
    src.poll()
    _write_part(spark, input_dir, "day=2", 30, 40)
    src.poll(lambda df: df.withColumn("extra", F.col("v") + 1))

    tbl = src.table()
    assert "extra" in tbl.columns
    assert tbl.filter(F.col("extra").isNull()).count() == 30
    assert tbl.filter(F.col("extra").isNotNull()).count() == 10


def test_table_excludes_uncommitted_batch_dirs(spark, tmp_path):
    """Reader-side exactly-once: an orphaned batch directory (written by
    a crashed poll that never committed) is invisible to table() — only
    the committed batch list is read."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _write_part(spark, input_dir, "day=1", 0, 20)
    src = IncrementalFileSource(spark, input_dir, out_dir)
    src.poll()

    # orphan: data on disk under a batch id the state never committed
    spark.range(900, 950).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.parquet(os.path.join(out_dir, "batch_id=9"))

    tbl = src.table()
    assert tbl.count() == 20
    assert tbl.filter(F.col("id") >= 900).count() == 0


def test_sync_rollup_reconciles_all_gaps(spark, tmp_path):
    """sync_rollup heals every divergence mode: late enablement over
    existing batches, a missed update after a crash, and supersession —
    and is a no-op when in sync."""
    from opentelemetry_collector_contrib_spark.sources.incremental import (
        MaintainedRollup,
        sync_rollup,
    )

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    agg_dir = str(tmp_path / "agg")
    src = IncrementalFileSource(spark, input_dir, out_dir)
    roll = MaintainedRollup(spark, agg_dir, keys=["k"], sum_cols=["v"])

    tf = lambda df: df.withColumn("k", F.col("id") % 3)
    _write_part(spark, input_dir, "day=1", 0, 60)
    src.poll(tf)
    _write_part(spark, input_dir, "day=2", 60, 100)
    src.poll(tf)

    # late enablement: two committed batches, empty manifest
    sync = sync_rollup(src, roll)
    assert sync == {"retracted": [], "added": [0, 1]}

    def want():
        return {
            r["k"]: (r["n"], r["sum_v"])
            for r in src.table().groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
            .collect()
        }

    got = {r["k"]: (r["n"], r["sum_v"]) for r in roll.snapshot().collect()}
    assert got == want()

    # in-sync re-run is a no-op
    assert sync_rollup(src, roll) == {"retracted": [], "added": []}

    # rewrite supersedes batch 0 (carrying day=2? no — each batch owns
    # one file here, so only batch 0 dies) and adds batch 2; a crash
    # "before the rollup update" is simulated by just calling sync
    _write_part(spark, input_dir, "day=1", 0, 10)
    src.poll(tf)
    sync = sync_rollup(src, roll)
    assert 0 in sync["retracted"] and sync["added"]
    got2 = {r["k"]: (r["n"], r["sum_v"]) for r in roll.snapshot().collect()}
    assert got2 == want()


def test_corpus_refresh_job_dedups_across_polls(spark, tmp_path):
    """jobs/run_corpus_refresh.py transform: poll 2's docs that verbatim
    (post-normalization) duplicate poll 1's kept corpus are dropped;
    fresh docs survive; replaying the poll is idempotent."""
    import sys

    sys.path.insert(0, "jobs")
    from run_corpus_refresh import refresh_transform

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")

    def write_docs(name, rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write \
            .mode("overwrite").parquet(os.path.join(input_dir, name))

    write_docs("p1", [
        (1, "alpha beta gamma"),
        (2, "Alpha  beta GAMMA!"),   # normalized dup of 1 -> folded
        (3, "delta epsilon zeta"),
        (4, "too short"),            # fails the min-words gate
    ])
    src = IncrementalFileSource(spark, input_dir, out_dir)
    rec1 = src.poll(refresh_transform(src, min_words=3))
    assert rec1["rows_out"] == 2
    assert {r.doc_id for r in src.table().collect()} == {1, 3}

    write_docs("p2", [
        (10, "ALPHA beta gamma."),       # dup of kept corpus -> dropped
        (11, "eta theta iota"),          # fresh -> kept
        (12, "eta  THETA iota"),         # batch dup of 11 -> folded
        (13, "delta epsilon zeta"),      # byte-equal corpus dup -> dropped
    ])
    rec2 = src.poll(refresh_transform(src, min_words=3))
    assert rec2["rows_out"] == 1
    assert {r.doc_id for r in src.table().collect()} == {1, 3, 11}

    # crash-replay: rewriting the same batch output is idempotent
    state_path = os.path.join(out_dir, STATE_FILE)
    st = json.load(open(state_path))
    st["files"] = {k: v for k, v in st["files"].items() if "p2" not in k}
    st["batches"] = [b for b in st["batches"] if b["batch_id"] != rec2["batch_id"]]
    json.dump(st, open(state_path, "w"))
    rec2b = src.poll(refresh_transform(src, min_words=3))
    assert rec2b["rows_out"] == 1
    assert {r.doc_id for r in src.table().collect()} == {1, 3, 11}


def test_corpus_refresh_rewrite_keeps_carried_docs(spark, tmp_path):
    """Rewrite path (round-4 ADVICE, medium): when a poll supersedes a
    batch, its still-live sibling files ride into the new batch — and
    the cross-corpus dedup must NOT anti-join those carried docs against
    their own hashes in the about-to-be-retired batch, or they vanish
    from the cumulative corpus the moment the old batch is excluded."""
    import sys

    sys.path.insert(0, "jobs")
    from run_corpus_refresh import refresh_transform

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")

    def write_docs(name, rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write \
            .mode("overwrite").parquet(os.path.join(input_dir, name))

    # one poll ingests BOTH files into batch 0
    write_docs("p1", [(1, "alpha beta gamma"), (2, "delta epsilon zeta")])
    write_docs("p2", [(3, "eta theta iota"), (4, "kappa lambda mu")])
    src = IncrementalFileSource(spark, input_dir, out_dir)
    rec1 = src.poll(refresh_transform(src, min_words=3))
    assert rec1["rows_out"] == 4

    # rewrite p1 only: batch 0 is superseded, p2's files are carried
    write_docs("p1", [(1, "alpha beta gamma"), (5, "nu xi omicron")])
    rec2 = src.poll(refresh_transform(src, min_words=3))
    assert rec2["supersedes"] == [0]
    # p2's docs (3, 4) MUST survive the rewrite; doc 1 (unchanged text in
    # the rewritten file) and doc 5 (new) are kept too — the superseded
    # batch is excluded from the dedup set entirely
    assert {r.doc_id for r in src.table().collect()} == {1, 3, 4, 5}

    # a later poll still dedups against the LIVE corpus as before
    write_docs("p3", [(6, "eta theta iota"), (7, "pi rho sigma")])
    rec3 = src.poll(refresh_transform(src, min_words=3))
    assert rec3["rows_out"] == 1
    assert {r.doc_id for r in src.table().collect()} == {1, 3, 4, 5, 7}


def test_poll_counts_rows_from_footers(spark, tmp_path, group_job_count):
    """A poll submits exactly the jobs of reading its delta, transforming
    it and writing the batch: the batch's row count comes from the part
    files' footers, not from a Spark job over the batch."""
    input_dir = str(tmp_path / "in")
    _write_part(spark, input_dir, "day=1", 0, 100)
    part = os.path.join(input_dir, "day=1")
    files = [os.path.join(part, f) for f in os.listdir(part)
             if f.endswith(".parquet")]

    def transform(df):
        return df.withColumn("v3", F.col("v") * 3)

    def plain():
        transform(spark.read.parquet(*files)).write.parquet(
            str(tmp_path / "plain"))

    rec = {}

    def poll():
        src = IncrementalFileSource(spark, input_dir, str(tmp_path / "out"))
        rec.update(src.poll(transform))

    assert group_job_count("poll", poll) == group_job_count("poll-plain", plain)
    assert rec["rows_out"] == 100
