"""Deterministic transcripts fixture — FIXTURES.md §1, BASELINE.json:15 shape.

Pure function of (seed, rows): numpy PCG64, zipf-skewed conv_ids (hot
conversations exercise the grouped hot-key path), unicode-bearing token-soup
text, contiguous turn_idx per conv, role/tool/ts rules per FIXTURES.md.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_ROLES_TOOLS = ["bash", "read", "edit", "grep", "web"]
_BASE_TS = np.datetime64("2026-01-01T00:00:00", "us")


def _vocabulary(rng: np.random.Generator, size: int = 10_000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = ["".join(rng.choice(letters, L)) for L in lens]
    # ≥1% unicode to stress UTF-8 hashing (FIXTURES.md)
    uni = rng.choice(size, size // 50, replace=False)
    accents = np.array(list("éüñøçλπ漢字🎉"))
    for i in uni:
        words[i] = words[i] + rng.choice(accents)
    return np.array(words, dtype=object)


def make_transcripts(rows: int = 10_000, seed: int = 42) -> pd.DataFrame:
    """Deterministic transcripts table: (conv_id, turn_idx, role, text, tool, ts)."""
    rng = np.random.default_rng(np.random.PCG64(seed))
    vocab = _vocabulary(rng)

    n_convs = max(1, rows // 10)
    # zipf(a=1.2) over conv ranks, clipped to n_convs
    ranks = np.minimum(rng.zipf(1.2, rows * 2), n_convs)[: rows * 2]
    # turn counts per conv: assign rows to convs by zipf draws, then make
    # turn_idx contiguous within each conv
    conv_of_row = ranks[:rows] - 1  # 0-based
    order = np.argsort(conv_of_row, kind="stable")
    conv_sorted = conv_of_row[order]
    # contiguous turn_idx within conv
    change = np.concatenate([[True], conv_sorted[1:] != conv_sorted[:-1]])
    group_start = np.maximum.accumulate(np.where(change, np.arange(rows), 0))
    turn_idx_sorted = (np.arange(rows) - group_start).astype(np.int32)

    conv_id = np.array([f"conv-{k:012d}" for k in conv_sorted], dtype=object)

    # roles: cycle user/assistant; 5% system (turn 0 only); 10% tool
    role = np.where(turn_idx_sorted % 2 == 0, "user", "assistant").astype(object)
    u = rng.random(rows)
    role[(turn_idx_sorted == 0) & (u < 0.05)] = "system"
    tool_mask = u > 0.90
    role[tool_mask] = "tool"
    tool = np.full(rows, None, dtype=object)
    tool[tool_mask] = rng.choice(_ROLES_TOOLS, int(tool_mask.sum()))

    # text: "turn {t} of {conv}: " + lognormal-length word soup
    n_words = np.maximum(1, rng.lognormal(1.8, 0.6, rows).astype(np.int64))
    total_words = int(n_words.sum())
    word_pool = vocab[rng.integers(0, len(vocab), total_words)]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = np.empty(rows, dtype=object)
    for i in range(rows):
        text[i] = (
            f"turn {turn_idx_sorted[i]} of {conv_id[i]}: "
            + " ".join(word_pool[bounds[i] : bounds[i + 1]])
        )

    conv_offset_us = (conv_sorted.astype(np.int64) * 3_600_000_000)
    ts = _BASE_TS + (conv_offset_us + turn_idx_sorted.astype(np.int64) * 7_000_000).astype(
        "timedelta64[us]"
    )

    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx_sorted,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )


def write_transcripts_parquet(path: str, rows: int = 10_000, seed: int = 42) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = make_transcripts(rows, seed)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.set_column(
        table.schema.get_field_index("turn_idx"),
        "turn_idx",
        table.column("turn_idx").cast(pa.int32()),
    )
    pq.write_table(table, path)
    return path


def non_member_ids(rng_seed: int, count: int, members: set) -> list[str]:
    """Probe keys guaranteed absent (FIXTURES.md §3): seed-43 generator minus
    collisions with members."""
    rng = np.random.default_rng(rng_seed)
    out = []
    while len(out) < count:
        k = int(rng.integers(10**9, 10**12))
        cid = f"conv-{k:012d}"
        if cid not in members:
            out.append(cid)
    return out
