"""Deterministic synthetic transcript corpus (FIXTURES.md §1-5).

Generated with numpy PCG64(seed) + pyarrow only — neither Spark nor DuckDB
participates, so both engines read the exact same bytes (per-turn ``text``
bit-for-bit equality is part of the north rule). Rows are written
*shuffled*: correct ordering must come from the (conv_id, turn_idx)
window, never from storage order.

Scale tiers mirror /root/testdata sf dirs:
  sf0.001 ≈ 6k turns / 200 convs     (smoke)
  sf0.01  ≈ 60k turns / 2k convs     (correctness vs DuckDB oracle)
  sf0.1   ≈ 600k turns / 20k convs   (bench)
One hot conversation holds ~5% of all rows (exercises the rollup's
map-side partial aggregate on a hot key — the skew the north rule
mandates handling).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
DATA_ROOT = os.environ.get(
    "OTEL_SPARK_DATA_ROOT", os.path.join(os.path.dirname(__file__), "..", "data")
)

ROLES = ["system", "user", "assistant", "tool"]
# 'plugin' is deliberately absent from dim_tools to pin left-join null
# semantics (FIXTURES.md §3).
TOOLS = ["bash", "browser", "editor", "search", "python", "plugin"]
SEV_TOKENS = ["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"]
HTTP_TOKENS = ["200", "201", "301", "404", "429", "500", "503"]
WORDS = (
    "agent step plan run exec call reply parse emit retry fetch write read "
    "scan merge batch route check apply note trace queue flush stage model"
).split()


def _sf_sizes(sf: float) -> tuple[int, int]:
    """(approx_turns, n_convs) for a scale factor."""
    turns = max(int(6_000_000 * sf), 600)
    convs = max(int(200_000 * sf), 20)
    return turns, convs


def generate_transcripts(sf: float, out_dir: str) -> dict[str, str]:
    """Write transcripts.parquet + dim tables into out_dir. Idempotent."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "transcripts": os.path.join(out_dir, "transcripts.parquet"),
        "dim_roles": os.path.join(out_dir, "dim_roles.parquet"),
        "dim_tools": os.path.join(out_dir, "dim_tools.parquet"),
        "severity_map": os.path.join(out_dir, "severity_map.parquet"),
    }
    if all(os.path.exists(p) for p in paths.values()):
        return paths

    target_turns, n_convs = _sf_sizes(sf)
    rng = np.random.default_rng(SEED)

    # conversation lengths: mostly short, one hot conv ≈ 5% of all rows
    base_len = rng.integers(2, 2 * max(target_turns // n_convs, 3), size=n_convs)
    base_len[0] = max(int(0.05 * target_turns), base_len.max() + 1)  # hot key
    conv_ids = np.array([f"conv-{i:06d}" for i in range(n_convs)])

    conv_col = np.repeat(conv_ids, base_len)
    turn_idx = np.concatenate([np.arange(n, dtype=np.int32) for n in base_len])
    n = conv_col.shape[0]

    # roles: turn 0 = system, then cycle user/assistant/tool-ish
    role_cycle = np.array(["user", "assistant", "assistant", "tool"])
    roles = np.where(
        turn_idx == 0, "system", role_cycle[(turn_idx - 1) % len(role_cycle)]
    )

    # tools only on tool turns (plus rare stray), with a long-tail dist
    tool_pick = rng.choice(
        np.array(TOOLS), size=n, p=[0.35, 0.2, 0.15, 0.15, 0.13, 0.02]
    )
    tools = np.where(roles == "tool", tool_pick, None)

    # severity: mostly INFO, errors rarer; ~8% http-style numeric tokens
    sev_pick = rng.choice(
        np.array(SEV_TOKENS), size=n, p=[0.05, 0.15, 0.45, 0.2, 0.12, 0.03]
    )
    http_mask = rng.random(n) < 0.08
    http_pick = rng.choice(np.array(HTTP_TOKENS), size=n)
    sev_tok = np.where(http_mask, http_pick, sev_pick)

    err_codes = rng.integers(1000, 9999, size=n)
    call_ids = rng.integers(0, 2**32, size=n)
    dur_ms = rng.integers(1, 5000, size=n)
    nbytes = rng.integers(10, 100_000, size=n)
    w1 = rng.choice(np.array(WORDS), size=n)
    w2 = rng.choice(np.array(WORDS), size=n)
    malformed = rng.random(n) < 0.05

    is_err = np.isin(sev_tok, np.array(["ERROR", "FATAL", "500", "503"]))
    texts = np.empty(n, dtype=object)
    for i in range(n):
        parts = [f"{w1[i]} {w2[i]}"]
        if malformed[i]:
            parts.append(f"lvl={sev_tok[i]}")  # garbled key → parse must miss
        else:
            parts.append(f"level={sev_tok[i]}")
        if is_err[i] and not malformed[i]:
            parts.append(f"err=E{err_codes[i]}")
        if tools[i] is not None:
            parts.append(f"<tool:{tools[i]} call_id={call_ids[i]:08x}>")
        parts.append(f"dur_ms={dur_ms[i]} bytes={nbytes[i]}")
        texts[i] = " ".join(parts)

    base = datetime(2025, 1, 1)
    conv_no = np.repeat(np.arange(n_convs, dtype=np.int64), base_len)
    ts = [
        base + timedelta(seconds=int(c) * 60 + int(t) * 7)
        for c, t in zip(conv_no, turn_idx)
    ]

    perm = rng.permutation(n)  # shuffle storage order
    table = pa.table(
        {
            "conv_id": pa.array(conv_col[perm], pa.string()),
            "turn_idx": pa.array(turn_idx[perm], pa.int32()),
            "role": pa.array(roles[perm], pa.string()),
            "text": pa.array(texts[perm], pa.string()),
            "tool": pa.array(tools[perm], pa.string()),
            "ts": pa.array([ts[i] for i in perm], pa.timestamp("us")),
        }
    )
    # 64k-row row groups: a Spark scan can split the file into parallel
    # tasks only at row-group boundaries — one giant row group would pin
    # the whole parse stage to a single task (at cluster scale the table
    # is many files and this is moot, but the invariant is the same:
    # row-group size bounds scan parallelism).
    pq.write_table(table, paths["transcripts"], row_group_size=65536)

    pq.write_table(
        pa.table(
            {
                "role": ["system", "user", "assistant", "tool", "observer"],
                "role_kind": ["machine", "human", "machine", "machine", "human"],
                "priority": pa.array([0, 1, 2, 3, 9], pa.int32()),
            }
        ),
        paths["dim_roles"],
    )
    # 'plugin' intentionally missing; 'sql' is an unused dim row
    pq.write_table(
        pa.table(
            {
                "tool": ["bash", "browser", "editor", "search", "python", "sql"],
                "tool_family": ["shell", "web", "code", "web", "code", "data"],
                "risk_level": ["high", "med", "low", "low", "med", "med"],
            }
        ),
        paths["dim_tools"],
    )

    from .functions.severity import severity_map_rows

    rows = severity_map_rows()
    pq.write_table(
        pa.table(
            {
                "token": [r[0] for r in rows],
                "severity_number": pa.array([r[1] for r in rows], pa.int32()),
                "severity_text": [r[2] for r in rows],
            }
        ),
        paths["severity_map"],
    )
    return paths


def generate_media(sf: float, out_dir: str) -> str:
    """media.parquet: opaque binary payloads + typed metadata (the
    multimodal-column substrate — image/audio/video as BINARY with a
    fixed metadata envelope). Deterministic PCG64(seed+7); payload bytes
    are entropy, decode is stubbed engine-side."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "media.parquet")
    if os.path.exists(path):
        return path
    n = max(int(2_000 * sf), 24)
    rng = np.random.default_rng(np.random.PCG64(SEED + 7))
    kinds = rng.choice(["image", "audio", "video"], n, p=[0.5, 0.3, 0.2])
    rows = {
        "media_id": [f"m{i:06d}" for i in range(n)],
        "media_type": kinds.tolist(),
        "payload": [],
        "width": [], "height": [], "sample_rate": [],
        "duration_ms": [], "n_frames": [],
    }
    for i, k in enumerate(kinds):
        size = int(rng.integers(64, 4096))
        rows["payload"].append(rng.bytes(size))
        if k == "image":
            rows["width"].append(int(rng.choice([320, 640, 1024])))
            rows["height"].append(int(rng.choice([240, 480, 768])))
            rows["sample_rate"].append(None)
            rows["duration_ms"].append(None)
            rows["n_frames"].append(1)
        elif k == "audio":
            rows["width"].append(None)
            rows["height"].append(None)
            rows["sample_rate"].append(int(rng.choice([16000, 44100])))
            rows["duration_ms"].append(int(rng.integers(500, 60000)))
            rows["n_frames"].append(None)
        else:
            rows["width"].append(int(rng.choice([640, 1280])))
            rows["height"].append(int(rng.choice([360, 720])))
            rows["sample_rate"].append(None)
            rows["duration_ms"].append(int(rng.integers(1000, 120000)))
            rows["n_frames"].append(int(rng.integers(24, 2400)))
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(rows["media_id"], pa.string()),
                "media_type": pa.array(rows["media_type"], pa.string()),
                "payload": pa.array(rows["payload"], pa.binary()),
                "width": pa.array(rows["width"], pa.int32()),
                "height": pa.array(rows["height"], pa.int32()),
                "sample_rate": pa.array(rows["sample_rate"], pa.int32()),
                "duration_ms": pa.array(rows["duration_ms"], pa.int32()),
                "n_frames": pa.array(rows["n_frames"], pa.int32()),
            }
        ),
        path,
        row_group_size=65536,
    )
    return path


def ensure_fixture_dir(sf_dir: str) -> str:
    """Map a driver sf dir (/root/testdata/sf0.01) to our fixture dir,
    generating it on first use. Accepts either a driver dir or an sf tag."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    if not tag.startswith("sf"):
        tag = "sf0.01"
    sf = float(tag[2:])
    out_dir = os.path.abspath(os.path.join(DATA_ROOT, tag))
    generate_transcripts(sf, out_dir)
    generate_media(sf, out_dir)
    return out_dir
