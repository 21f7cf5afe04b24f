"""Seeded input generator. The benchmark makes its own inputs so the
engine receives only files: the transcript table
``(conv_id, turn_idx, role, text, tool, ts)`` and attribute updates
``(conv_id, ts, attr_value)``, the shapes ``jobs/run.py --input`` reads.

The shape follows the engine's synthetic generator: 4 to 39 turns per
conversation with a 1% tail of 60x longer ones (the same lengths and
start times for every seed; the seed decides the content), 1 to 48
tokens per turn (or a given maximum) over a 997-token vocabulary, inter-turn gaps of 1 to 600 s with a
session-breaking gap of over 30 minutes at every 17th turn, and 8
attribute updates for 6 of every 7 conversations. Optionally a share of
turns is repeated with a later timestamp, which ``stable_dedup`` must
drop.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
ROLES = np.array(["user", "assistant", "tool"])
TOOLS = np.array(["search", "exec", "read", "write"])
VOCAB = 997
MAX_TOKENS = 48
WORDS = np.array([f"tok{i}" for i in range(VOCAB)], dtype=object)
DAY_S = 24 * 3600
GOLDEN = (5 ** 0.5 - 1) / 2


def _ts(seconds: np.ndarray) -> pa.Array:
    epoch_us = int(EPOCH.timestamp()) * 1_000_000
    return pa.array(epoch_us + seconds.astype(np.int64) * 1_000_000,
                    type=pa.timestamp("us", tz="UTC"))


def transcripts(n_conv: int, seed: int, days: int = 30,
                dup_every: int = 0, max_tokens: int = MAX_TOKENS) -> pa.Table:
    """``n_conv`` conversations starting uniformly over ``days`` days,
    1 to ``max_tokens`` tokens a turn. With ``dup_every`` > 0, one turn
    in ``dup_every`` appears a second time with its timestamp 1 to 30 s
    later."""
    rng = np.random.default_rng(seed)
    # conversation lengths are fixed by conversation id (cycling through
    # 4..39 turns, every 100th conversation 60x longer), so neither the
    # row count nor the partition the long conversations hash to moves
    # with the seed: the task that holds them sets a stage's time
    n_turns = 4 + np.arange(n_conv) % 36
    n_turns[50::100] *= 60
    # start times too are fixed by conversation id, spread evenly over
    # the window, so the rows one day touches hardly move with the seed
    start = (np.arange(n_conv) * GOLDEN % 1.0 * days * DAY_S).astype(np.int64)

    conv = np.repeat(np.arange(n_conv), n_turns)
    first = np.cumsum(n_turns) - n_turns
    idx = np.arange(len(conv)) - np.repeat(first, n_turns)
    gap = rng.integers(1, 601, len(conv))
    gap = np.where(idx % 17 == 13, gap + 2100, gap)
    gap[idx == 0] = 0
    total = np.cumsum(gap)
    secs = start[conv] + total - np.repeat(total[first], n_turns)

    role_ix = (idx + rng.integers(0, 3, n_conv)[conv]) % 3
    role = ROLES[role_ix]
    tool = np.where(role_ix == 2, TOOLS[rng.integers(0, 4, len(conv))], None)
    n_tok = rng.integers(1, max_tokens + 1, len(conv))
    words = WORDS[rng.integers(0, VOCAB, int(n_tok.sum()))].tolist()
    ends = np.cumsum(n_tok).tolist()
    text = [" ".join(words[e - n:e]) for n, e in zip(n_tok.tolist(), ends)]

    cols = {
        "conv_id": np.char.add("c", np.char.zfill(conv.astype(str), 8)),
        "turn_idx": idx.astype(np.int32),
        "role": role,
        "text": np.array(text, dtype=object),
        "tool": tool,
        "secs": secs,
    }
    if dup_every:
        dup = rng.permutation(len(conv)) < len(conv) // dup_every
        later = secs[dup] + rng.integers(1, 31, int(dup.sum()))
        cols = {k: np.concatenate([v, v[dup]]) for k, v in cols.items()}
        cols["secs"][len(conv):] = later
    return pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": _ts(cols["secs"]),
    })


def updates(n_conv: int, seed: int, days: int = 35, per_conv: int = 8) -> pa.Table:
    """Sparse attribute updates; one conversation in 7 has none."""
    rng = np.random.default_rng(seed + 1)
    conv = np.arange(n_conv)
    conv = conv[rng.permutation(n_conv) >= n_conv // 7]
    conv = np.repeat(conv, per_conv)
    return pa.table({
        "conv_id": pa.array(np.char.add("c", np.char.zfill(conv.astype(str), 8)), pa.string()),
        "ts": _ts(rng.integers(0, days * DAY_S, len(conv))),
        "attr_value": pa.array(rng.integers(0, 100000, len(conv)) / 100.0, pa.float64()),
    })


def write(table: pa.Table, path: str, n_files: int = 8) -> None:
    """Write ``table`` as ``n_files`` parquet files of contiguous rows,
    so Spark reads it with several input partitions."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
