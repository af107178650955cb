"""Correctness oracle and output checks, in DuckDB.

Expectations are computed once per input, from the same parquet the
pipeline reads, with the token regexes and route conditions restated here
in SQL — independent of the package's own code. Outputs are read back with
DuckDB, so checking adds no Spark job to the measured process.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

ROUTES = ("errors", "tool_bash", "slow", "default")
# severity_builder presets for exactly the tokens the generator emits;
# any other token makes the oracle refuse rather than guess
_SEVERITY_CASE = """
  CASE
    WHEN sev_token IS NULL THEN 0
    WHEN upper(sev_token) = 'TRACE' THEN 1
    WHEN upper(sev_token) = 'DEBUG' THEN 5
    WHEN upper(sev_token) = 'INFO' THEN 9
    WHEN upper(sev_token) = 'WARN' THEN 13
    WHEN upper(sev_token) = 'ERROR' THEN 17
    WHEN upper(sev_token) = 'FATAL' THEN 21
    WHEN regexp_full_match(sev_token, '[23][0-9][0-9]') THEN 9
    WHEN regexp_full_match(sev_token, '4[0-9][0-9]') THEN 13
    WHEN regexp_full_match(sev_token, '5[0-9][0-9]') THEN 17
  END"""


def _parsed_sql(src: str) -> str:
    """One row per turn with the parse outputs routing depends on and its
    first route (routingconnector table order)."""
    return f"""
      WITH t AS (
        SELECT conv_id, turn_idx, role, ts,
          NULLIF(regexp_extract(text, '(?:^| )level=(\\S+)', 1), '') AS sev_token,
          NULLIF(regexp_extract(text, '<tool:(\\w+) call_id=', 1), '') AS tool_name,
          TRY_CAST(NULLIF(regexp_extract(text, '(?:^| )dur_ms=(\\d+)', 1), '')
                   AS INTEGER) AS dur_ms
        FROM {src}
      ), s AS (SELECT *, {_SEVERITY_CASE} AS sev FROM t)
      SELECT *,
        coalesce(sev >= 17, false) AS r_errors,
        coalesce(tool_name = 'bash', false) AS r_tool_bash,
        coalesce(dur_ms > 4000, false) AS r_slow
      FROM s"""


def expected(files: str | list[str], where: str = "true") -> dict:
    """Per-sink copy counts and duration sums, rollup shape, totals, over
    the input rows that satisfy ``where``."""
    con = duckdb.connect()
    src = f"(SELECT * FROM read_parquet({json.dumps(files)}) WHERE {where})"
    con.execute(f"CREATE TEMP VIEW p AS {_parsed_sql(src)}")
    unknown = con.execute("SELECT count(*) FROM p WHERE sev IS NULL").fetchone()[0]
    if unknown:
        raise ValueError(f"{unknown} rows carry a severity token the oracle does not map")
    row = con.execute(
        """SELECT count(*), count(DISTINCT conv_id),
             count(*) FILTER (WHERE r_errors),
             count(*) FILTER (WHERE r_tool_bash),
             count(*) FILTER (WHERE r_slow),
             count(*) FILTER (WHERE NOT (r_errors OR r_tool_bash OR r_slow)),
             coalesce(sum(dur_ms) FILTER (WHERE r_errors), 0),
             coalesce(sum(dur_ms) FILTER (WHERE r_tool_bash), 0),
             coalesce(sum(dur_ms) FILTER (WHERE r_slow), 0),
             coalesce(sum(dur_ms) FILTER (WHERE NOT (r_errors OR r_tool_bash OR r_slow)), 0),
             coalesce(sum(dur_ms), 0)
           FROM p"""
    ).fetchone()
    hot = con.execute(
        "SELECT max(n) FROM (SELECT count(*) n FROM p GROUP BY conv_id)"
    ).fetchone()[0]
    con.close()
    return {
        "rows": row[0],
        "convs": row[1],
        "sink_rows": dict(zip(ROUTES, row[2:6])),
        "sink_dur": dict(zip(ROUTES, (int(x) for x in row[6:10]))),
        "dur_total": int(row[10]),
        "hot_turns": hot,
    }


def _pq(path: str) -> str:
    return f"read_parquet({json.dumps(os.path.join(path, '**', '*.parquet'))}, hive_partitioning=true)"


def count_rows(path: str) -> int:
    with duckdb.connect() as con:
        return con.execute(f"SELECT count(*) FROM {_pq(path)}").fetchone()[0]


def check_flagship(ckpt: str, exp: dict) -> list[str]:
    """Compare one runner pass's checkpoints with the oracle. Returns the
    list of mismatches (empty = correct)."""
    bad: list[str] = []
    con = duckdb.connect()

    def one(sql: str):
        return con.execute(sql).fetchone()

    def eq(what: str, got, want) -> None:
        if got != want:
            bad.append(f"{what}: got {got}, want {want}")

    try:
        eq("enriched rows", one(f"SELECT count(*) FROM {_pq(os.path.join(ckpt, 'enriched'))}")[0],
           exp["rows"])
        for r in ROUTES:
            eq(f"sink_{r} rows",
               one(f"SELECT count(*) FROM {_pq(os.path.join(ckpt, 'sink_' + r))}")[0],
               exp["sink_rows"][r])
        counts = dict(con.execute(
            f"SELECT sink, sum(log_count) FROM {_pq(os.path.join(ckpt, 'metrics_counts'))} GROUP BY sink"
        ).fetchall())
        eq("metrics_counts per sink", {k: int(v) for k, v in counts.items()},
           {k: v for k, v in exp["sink_rows"].items() if v})
        durs = dict(con.execute(
            f"SELECT sink, sum(total_dur_ms) FROM {_pq(os.path.join(ckpt, 'metrics_durations'))} GROUP BY sink"
        ).fetchall())
        eq("metrics_durations per sink", {k: int(v) for k, v in durs.items()},
           {k: v for k, v in exp["sink_dur"].items() if exp["sink_rows"][k]})
        got = one(
            f"SELECT count(*), sum(n_turns), sum(n_errors), sum(total_dur_ms), max(n_turns) "
            f"FROM {_pq(os.path.join(ckpt, 'conversation_rollup'))}"
        )
        eq("rollup (rows, turns, errors, dur, hot)", tuple(int(x) for x in got),
           (exp["convs"], exp["rows"], exp["sink_rows"]["errors"], exp["dur_total"],
            exp["hot_turns"]))
        # the runner's own lineage records must agree with what landed
        for stage in ("enriched", *(f"sink_{r}" for r in ROUTES)):
            with open(os.path.join(ckpt, "_pipeline_state", f"{stage}.json")) as f:
                rec = json.load(f)
            want = exp["rows"] if stage == "enriched" else exp["sink_rows"][stage[5:]]
            eq(f"_pipeline_state {stage} rows_out", rec["rows_out"], want)
    except (duckdb.Error, OSError, KeyError, ValueError) as e:
        bad.append(f"unreadable output: {e}")
    finally:
        con.close()
    return bad


def check_stream(out_dir: str, emitted: list[str], exp: dict) -> list[str]:
    """Check streaming_flagship's routed output against the emitted files.

    Every emitted row must appear exactly once among first-route copies
    (the copy whose ``route`` partition is the first route it matches), and
    the per-route copy counts must match the oracle. Returns the
    mismatches.
    """
    bad: list[str] = []
    bad_files: set[str] = set()
    outs = glob.glob(os.path.join(out_dir, "sinks", "**", "*.parquet"), recursive=True)
    if not outs:
        return ["no streaming output"]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE TEMP VIEW o AS SELECT * FROM {_pq(os.path.join(out_dir, 'sinks'))}"
        )
        routes = dict(con.execute("SELECT route, count(*) FROM o GROUP BY route").fetchall())
        for r in ROUTES:
            if routes.get(r, 0) != exp["sink_rows"][r]:
                bad.append(f"route {r} copies: got {routes.get(r, 0)}, want {exp['sink_rows'][r]}")
        con.execute(
            f"CREATE TEMP VIEW e AS SELECT conv_id, turn_idx, "
            f"parse_filename(filename) AS f FROM read_parquet({json.dumps(emitted)}, filename=true)"
        )
        # first route recomputed from the copy's own parsed columns
        con.execute(
            """CREATE TEMP VIEW firsts AS
               SELECT conv_id, turn_idx, count(*) AS n FROM o
               WHERE route = CASE
                 WHEN coalesce(severity_number >= 17, false) THEN 'errors'
                 WHEN coalesce(tool_name = 'bash', false) THEN 'tool_bash'
                 WHEN coalesce(dur_ms > 4000, false) THEN 'slow'
                 ELSE 'default' END
               GROUP BY conv_id, turn_idx"""
        )
        rows = con.execute(
            """SELECT e.f, count(*) FILTER (WHERE coalesce(firsts.n, 0) <> 1)
               FROM e LEFT JOIN firsts USING (conv_id, turn_idx) GROUP BY e.f"""
        ).fetchall()
        for f, nbad in rows:
            if nbad:
                bad_files.add(f)
        if bad_files:
            bad.append(f"{len(bad_files)} files with rows not exactly once among first-route copies")
        extra = con.execute(
            "SELECT count(*) FROM firsts ANTI JOIN e USING (conv_id, turn_idx)"
        ).fetchone()[0]
        if extra:
            bad.append(f"{extra} output rows that no emitted file holds")
    except (duckdb.Error, OSError) as e:
        bad.append(f"unreadable output: {e}")
    finally:
        con.close()
    return bad


CONFIG_EXPORTERS = {"file/errors": "errors", "file/tools": "tool_bash",
                    "file/slow": "slow", "file/default": "default"}


def check_config(outputs: dict, exp: dict) -> list[str]:
    """Check one ``CollectorConfig.run`` of collector.yaml, whose
    ``debug/metrics`` output has been collected to rows. ``exp`` is the
    oracle over the rows its filter keeps (role <> 'system')."""
    bad: list[str] = []
    con = duckdb.connect()
    try:
        for name, route in CONFIG_EXPORTERS.items():
            n = con.execute(f"SELECT count(*) FROM {_pq(outputs[name])}").fetchone()[0]
            if n != exp["sink_rows"][route]:
                bad.append(f"{name} rows: got {n}, want {exp['sink_rows'][route]}")
        slow = con.execute(
            f"SELECT count(*) FILTER (WHERE map_extract(attributes, 'slow')[1] = 'true'), count(*) "
            f"FROM {_pq(outputs['file/slow'])}").fetchone()
        if slow[0] != slow[1]:
            bad.append(f"file/slow: {slow[1] - slow[0]} rows lack attributes.slow")
        unmasked = con.execute(
            f"SELECT count(*) FROM {_pq(outputs['file/tools'])} "
            f"WHERE map_extract(attributes, 'call_id')[1] <> '****'").fetchone()[0]
        if unmasked:
            bad.append(f"file/tools: {unmasked} call_id values not redacted")
    except (duckdb.Error, OSError, KeyError) as e:
        bad.append(f"unreadable output: {e}")
    finally:
        con.close()
    rows = outputs["debug/metrics"]
    counted = sum(r["log_count"] for r in rows if r["log_count"] is not None)
    if counted != exp["rows"]:
        bad.append(f"count/by_sev total: got {counted}, want {exp['rows']}")
    summed = sum(r["log_sum"] for r in rows if r["log_sum"] is not None)
    if summed != exp["dur_total"]:
        bad.append(f"sum/dur total: got {summed}, want {exp['dur_total']}")
    return bad
