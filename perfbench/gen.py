"""Seeded, vectorised transcript generator for the benchmark.

Writes the transcript schema (conv_id, turn_idx, role, text, tool, ts) and
the two enrichment dims into a directory, the layout the package's readers
expect (``transcripts.parquet/``, ``dim_roles.parquet``, ``dim_tools.parquet``).
Everything is numpy PCG64(seed) + pyarrow: the same (seed, rows, convs,
hot_share) always gives the same bytes, and nothing is read from the
repository's own fixture directory.

``text`` carries the tokens the parse stage extracts: ``level=`` (about 5%
garbled to ``lvl=`` so the parse must miss), ``err=E####`` on error rows,
``<tool:NAME call_id=XXXXXXXX>`` on tool turns, ``dur_ms=`` and ``bytes=``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOOLS = np.array(["bash", "browser", "editor", "search", "python", "plugin"])
TOOL_P = [0.35, 0.2, 0.15, 0.15, 0.13, 0.02]
SEV_TOKENS = np.array(["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"])
SEV_P = [0.05, 0.15, 0.45, 0.2, 0.12, 0.03]
HTTP_TOKENS = np.array(["200", "201", "301", "404", "429", "500", "503"])
ERROR_TOKENS = ["ERROR", "FATAL", "500", "503"]
WORDS = np.array(
    "agent step plan run exec call reply parse emit retry fetch write read "
    "scan merge batch route check apply note trace queue flush stage model"
    .split()
)
BASE_TS = np.datetime64("2025-01-01T00:00:00", "us")
TRANSCRIPT_TYPES = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _conv_lengths(rng, rows: int, convs: int, hot_share: float) -> np.ndarray:
    """Per-conversation turn counts summing to exactly ``rows``; conv 0
    holds ``hot_share`` of them (the skewed key the salted rollup is for)."""
    hot = int(round(rows * hot_share)) if convs > 1 else rows
    rest = rows - hot
    lengths = np.zeros(convs, dtype=np.int64)
    lengths[0] = hot
    if convs > 1:
        # every other conversation gets at least one turn; the remainder
        # spreads multinomially so lengths vary but the total is exact
        lengths[1:] = 1
        lengths[1:] += rng.multinomial(rest - (convs - 1), np.full(convs - 1, 1 / (convs - 1)))
    return lengths


def _hex8(rng, n: int) -> pa.Array:
    digits = np.frombuffer(b"0123456789abcdef", dtype="S1")
    raw = digits[rng.integers(0, 16, size=(n, 8))].view("S8").ravel()
    return pa.array(raw, pa.binary()).cast(pa.string())


def _s(a) -> pa.Array:
    return pa.array(a, pa.string())


def transcripts_table(
    seed: int,
    rows: int,
    convs: int,
    hot_share: float = 0.0,
    conv_prefix: str = "conv",
    ts_offset_s: int = 0,
) -> pa.Table:
    """One transcript table of exactly ``rows`` rows, storage-shuffled."""
    rng = np.random.default_rng(seed)
    lengths = _conv_lengths(rng, rows, convs, hot_share)
    conv_no = np.repeat(np.arange(convs, dtype=np.int64), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    turn_idx = (np.arange(rows, dtype=np.int64) - starts).astype(np.int32)

    role_cycle = np.array(["user", "assistant", "assistant", "tool"])
    roles = np.where(turn_idx == 0, "system", role_cycle[(turn_idx - 1) % 4])
    is_tool = roles == "tool"
    tool_pick = rng.choice(TOOLS, size=rows, p=TOOL_P)

    sev = rng.choice(SEV_TOKENS, size=rows, p=SEV_P)
    http = rng.random(rows) < 0.08
    sev = np.where(http, rng.choice(HTTP_TOKENS, size=rows), sev)
    malformed = rng.random(rows) < 0.05
    is_err = np.isin(sev, ERROR_TOKENS) & ~malformed

    err_code = rng.integers(1000, 9999, size=rows)
    dur_ms = rng.integers(1, 5000, size=rows)
    nbytes = rng.integers(10, 100_000, size=rows)
    call_id = _hex8(rng, rows)
    w1 = rng.choice(WORDS, size=rows)
    w2 = rng.choice(WORDS, size=rows)

    empty = pa.scalar("", pa.string())
    level = pc.binary_join_element_wise(
        _s(np.where(malformed, " lvl=", " level=")), _s(sev), ""
    )
    err = pc.if_else(
        pa.array(is_err),
        pc.binary_join_element_wise(" err=E", pc.cast(pa.array(err_code), pa.string()), ""),
        empty,
    )
    tool_tok = pc.if_else(
        pa.array(is_tool),
        pc.binary_join_element_wise(" <tool:", _s(tool_pick), " call_id=", call_id, ">", ""),
        empty,
    )
    text = pc.binary_join_element_wise(
        _s(w1), " ", _s(w2), level, err, tool_tok,
        " dur_ms=", pc.cast(pa.array(dur_ms), pa.string()),
        " bytes=", pc.cast(pa.array(nbytes), pa.string()),
        "",
    )
    conv_id = pc.binary_join_element_wise(
        f"{conv_prefix}-", pc.utf8_lpad(pc.cast(pa.array(conv_no), pa.string()), 6, "0"), ""
    )
    ts = BASE_TS + (conv_no * 60 + turn_idx.astype(np.int64) * 7 + ts_offset_s).astype(
        "timedelta64[s]"
    )
    tool = pc.if_else(pa.array(is_tool), _s(tool_pick), pa.scalar(None, pa.string()))

    perm = pa.array(rng.permutation(rows))
    table = pa.table(
        {
            "conv_id": conv_id,
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": _s(roles),
            "text": text,
            "tool": tool,
            "ts": pa.array(ts, pa.timestamp("us")),
        },
        schema=TRANSCRIPT_TYPES,
    )
    return table.take(perm)


def write_dims(out_dir: str) -> None:
    # 'plugin' is absent from dim_tools (left-join nulls); 'observer' and
    # 'sql' are dim rows no fact row uses
    pq.write_table(
        pa.table(
            {
                "role": ["system", "user", "assistant", "tool", "observer"],
                "role_kind": ["machine", "human", "machine", "machine", "human"],
                "priority": pa.array([0, 1, 2, 3, 9], pa.int32()),
            }
        ),
        os.path.join(out_dir, "dim_roles.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "tool": ["bash", "browser", "editor", "search", "python", "sql"],
                "tool_family": ["shell", "web", "code", "web", "code", "data"],
                "risk_level": ["high", "med", "low", "low", "med", "med"],
            }
        ),
        os.path.join(out_dir, "dim_tools.parquet"),
    )


# Transcripts are a directory of this many part files, as a log source
# lands them. A single file under the package's 1 MiB openCostInBytes
# would be read, and parsed, by one task; eight files give local[4] four.
PARTS = 8


def transcripts_glob(out_dir: str) -> str:
    """The transcript part files of a dataset written by write_dataset."""
    return os.path.join(out_dir, "transcripts.parquet", "*.parquet")


def write_dataset(
    out_dir: str, seed: int, rows: int, convs: int, hot_share: float
) -> str:
    """transcripts.parquet/ + dims in ``out_dir``; returns ``out_dir``."""
    part_dir = os.path.join(out_dir, "transcripts.parquet")
    os.makedirs(part_dir, exist_ok=True)
    table = transcripts_table(seed, rows, convs, hot_share)
    step = -(-rows // PARTS)
    for i in range(PARTS):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(part_dir, f"part-{i:05d}.parquet"))
    write_dims(out_dir)
    return out_dir

