"""Seeded benchmark inputs: numpy/pyarrow only, no Spark session.

Every workload is a list of arrival files (pandas frames in publish order)
plus the expected result. The expected data rows come from the repository's
own reference oracle, ``sources.scenarios.serial_oracle``; the expected final
status per conversation follows from the arrivals alone (every distinct turn
is either emitted or still buffered, every extra copy is a duplicate).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dataflow_ordered_processing_spark.operators.ordered_core import END_ROLE, END_TEXT
from dataflow_ordered_processing_spark.sources.scenarios import serial_oracle

WORKLOADS = ("live_staggered", "backfill_hotkey")

# the parquet form of schemas.TRANSCRIPT_SCHEMA
ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)
_ROLES = np.array(["user", "assistant", "tool"], dtype=object)
_TOOLS = np.array(["search", "calc", "code", "browse"], dtype=object)
_T0_US = 1_767_225_600 * 1_000_000  # 2026-01-01T00:00:00Z

# Full-size shapes. ``scale`` multiplies the turn counts (tests use tiny
# scales); the live rate is in turns per second of wall clock.
# About half the default engine's catch-up throughput on this shape (the
# whole 20 s backlog present, ~10 micro-batches of ~4k turns: 1.8k turns/s
# on 4 cores), so a 5 s trigger takes ~4.5k turns in 2 to 3 s and the
# backlog stays flat.
LIVE_RATE = 900.0
LIVE_FILE_PERIOD_S = 0.25
LIVE_TURNS = (4, 12)  # conversation length range, end sentinel included
LIVE_LOSS_SHARE = 0.05
LIVE_WARMUP_CONVS = 200  # complete, in-order conversations of the warm-up file
BACKFILL_HOT_TURNS = 105_000  # above adaptive_ordered_emit_batch's hot_threshold
BACKFILL_CONVS = 900
BACKFILL_MAX_TURNS = 400
BACKFILL_FILES = 8


@dataclass
class Inputs:
    files: list[pd.DataFrame]
    # live: files[0] warms the running query up; file j >= 1 is due at
    # (j - 1) * file_period_s after the feed starts. None: every file is
    # present before the system under test starts
    file_period_s: float | None
    expected: pd.DataFrame  # conv_id, turn_idx, emit_seq, text
    status: pd.DataFrame  # conv_id, buffered_count, duplicate_count

    @property
    def n_turns(self) -> int:
        return sum(len(f) for f in self.files)


def _turn_frame(conv: np.ndarray, idx: np.ndarray, length: np.ndarray, seed: int) -> pd.DataFrame:
    """One row per (conv, idx); ``length`` is the conversation length per row,
    whose last turn is the END_ROLE/END_TEXT sentinel."""
    conv_ids = np.array([f"conv-{c:06d}" for c in range(int(conv.max()) + 1)], dtype=object)[conv]
    last = idx == length
    role = np.where(last, END_ROLE, _ROLES[(idx - 1) % 3])
    # the salt is a pure function of (seed, conv, idx), so a re-delivered
    # copy carries the same text as the original
    salt = (conv.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + idx.astype(np.uint64)) ^ np.uint64(seed)
    salt = (salt * np.uint64(0xBF58476D1CE4E5B9)) >> np.uint64(11)
    text = [
        END_TEXT if is_last else f"{c}:{i}:{r}:{s:013x}"
        for c, i, r, s, is_last in zip(conv_ids, idx.tolist(), role, salt.tolist(), last)
    ]
    tool = np.where(role == "tool", _TOOLS[(salt % np.uint64(4)).astype(np.int64)], None)
    ts = _T0_US + conv.astype(np.int64) * 137_000_000 + idx.astype(np.int64) * 30_000_000
    return pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": idx.astype(np.int32),
            "role": role,
            "text": np.array(text, dtype=object),
            "tool": tool,
            "ts": pd.to_datetime(ts, unit="us", utc=True),
        }
    )


def _expand(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    conv = np.repeat(np.arange(len(lengths)), lengths)
    starts = np.cumsum(lengths) - lengths
    idx = np.arange(int(lengths.sum())) - np.repeat(starts, lengths) + 1
    return conv, idx, lengths[conv]


def _skew_lengths(n: int, max_turns: int) -> np.ndarray:
    # the reference simulator's skew law: rate of key i ∝ 1 - (i/n)^2
    i = np.arange(1, n + 1)
    return np.maximum(2, (max_turns * (1 - (i / n) ** 2)).astype(np.int64) + 2)


def _lost_turns(rng: np.random.Generator, lengths: np.ndarray, share: float) -> np.ndarray:
    """Per conversation, the turn lost forever (0: none) for ``share`` of
    them: never the first turn or the sentinel, so a prefix emits and
    everything after the gap stays buffered."""
    pick = (rng.random(len(lengths)) < share) & (lengths >= 4)
    lost = rng.integers(2, np.maximum(lengths, 3))
    return np.where(pick, lost, 0)


def _arrivals(
    rng: np.random.Generator, seed: int, lengths: np.ndarray, lost: np.ndarray, dup_share: float
) -> pd.DataFrame:
    """Every turn but the lost ones, plus re-delivered copies of
    ``dup_share`` of them, in one global seeded shuffle."""
    conv, idx, length = _expand(lengths)
    keep = np.flatnonzero(idx != lost[conv])
    keep = np.concatenate([keep, keep[rng.random(len(keep)) < dup_share]])
    keep = keep[rng.permutation(len(keep))]
    return _turn_frame(conv[keep], idx[keep], length[keep], seed)


def _split(rows: pd.DataFrame, n_files: int) -> list[pd.DataFrame]:
    return [rows.iloc[ix].reset_index(drop=True) for ix in np.array_split(np.arange(len(rows)), n_files)]


def _live(seed: int, seconds: float, scale: float) -> list[pd.DataFrame]:
    rng = np.random.default_rng([seed, 1])
    n_files = max(4, int(round(seconds / LIVE_FILE_PERIOD_S)))
    per_file = max(1, int(LIVE_RATE * LIVE_FILE_PERIOD_S * scale))
    lo, hi = LIVE_TURNS
    n_conv = int(n_files * per_file / ((lo + hi) / 2)) + 1
    lengths = rng.integers(lo, hi + 1, size=n_conv)
    lost = _lost_turns(rng, lengths, LIVE_LOSS_SHARE)
    conv, idx, length = _expand(lengths)
    # staggered starts; one turn per file slot within a conversation, each
    # turn up to ~2 slots late (bounded disorder)
    start = rng.uniform(0, max(1, n_files - hi), size=n_conv)
    key = start[conv] + (idx - 1) + rng.uniform(0, 2, size=len(idx))
    order = np.argsort(key, kind="stable")
    order = order[idx[order] != lost[conv[order]]]
    rows = _turn_frame(conv[order], idx[order], length[order], seed)
    warm = np.full(LIVE_WARMUP_CONVS, lo)
    w_conv, w_idx, w_len = _expand(warm)
    warmup = _turn_frame(w_conv + n_conv, w_idx, w_len, seed)
    return [warmup, *_split(rows, n_files)]


def _backfill(seed: int, scale: float) -> list[pd.DataFrame]:
    rng = np.random.default_rng([seed, 3])
    hot = max(8, int(BACKFILL_HOT_TURNS * scale))
    lengths = np.concatenate([[hot], _skew_lengths(max(4, int(BACKFILL_CONVS * scale)), BACKFILL_MAX_TURNS)])
    lost = _lost_turns(rng, lengths, 0.03)
    # the mega-conversation loses one turn late in its run, so the salted
    # prefix merge has to stop inside a block
    lost[0] = rng.integers(hot // 2, hot)
    rows = _arrivals(rng, seed, lengths, lost, 0.01)
    return _split(rows, BACKFILL_FILES)


def make_inputs(workload: str, seed: int, seconds: float, scale: float = 1.0) -> Inputs:
    if workload == "live_staggered":
        files, period = _live(seed, seconds, scale), LIVE_FILE_PERIOD_S
    elif workload == "backfill_hotkey":
        files, period = _backfill(seed, scale), None
    else:
        raise ValueError(f"unknown workload {workload!r}")
    expected = serial_oracle(files)[["conv_id", "turn_idx", "emit_seq", "text"]]
    return Inputs(files, period, expected, expected_status(files, expected))


def expected_status(files: list[pd.DataFrame], expected: pd.DataFrame) -> pd.DataFrame:
    arrivals = pd.concat(files, ignore_index=True)[["conv_id", "turn_idx"]]
    per = arrivals.groupby("conv_id").agg(received=("turn_idx", "size"), distinct=("turn_idx", "nunique"))
    emitted = expected.groupby("conv_id").size().reindex(per.index, fill_value=0)
    return pd.DataFrame(
        {
            "buffered_count": per["distinct"] - emitted,
            "duplicate_count": per["received"] - per["distinct"],
        }
    ).reset_index()


def write_all(inputs: Inputs, directory: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = [os.path.join(directory, f"part-{i:05d}.parquet") for i in range(len(inputs.files))]
    for frame, path in zip(inputs.files, paths):
        pq.write_table(pa.Table.from_pandas(frame, schema=ARROW_SCHEMA, preserve_index=False), path)
    return paths
