"""Row-exact checks of one run's output against the oracle."""

from __future__ import annotations

import pandas as pd

KEY = ["conv_id", "turn_idx"]


def check_rows(expected: pd.DataFrame, got: pd.DataFrame) -> dict[str, int]:
    """Compare data rows on (conv_id, turn_idx, emit_seq, text).

    missing: an expected key absent from the output; wrong: an output key
    the oracle does not emit, or one whose emit_seq or text differ;
    duplicated: every extra copy of a key (exactly-once)."""
    got = got[["conv_id", "turn_idx", "emit_seq", "text"]].astype({"turn_idx": "int64", "emit_seq": "int64"})
    exp = expected[["conv_id", "turn_idx", "emit_seq", "text"]].astype({"turn_idx": "int64", "emit_seq": "int64"})
    copies = got.groupby(KEY).size()
    duplicated = int((copies - 1).sum())
    both = exp.merge(got.drop_duplicates(KEY), on=KEY, how="outer", suffixes=("", "_got"), indicator=True)
    missing = int((both["_merge"] == "left_only").sum())
    matched = both[both["_merge"] == "both"]
    differ = (matched["emit_seq"] != matched["emit_seq_got"]) | (matched["text"] != matched["text_got"])
    wrong = int((both["_merge"] == "right_only").sum()) + int(differ.sum())
    return {"missing": missing, "wrong": wrong, "duplicated": duplicated}


def final_status(status_rows: pd.DataFrame) -> pd.DataFrame:
    """The last status row per conversation of a streaming sink: counters
    only grow, so the row with the most received turns is the latest."""
    order = status_rows.sort_values(["conv_id", "received_count", "status_ts"])
    return order.drop_duplicates("conv_id", keep="last")


def check_status(expected: pd.DataFrame, got: pd.DataFrame) -> int:
    """Conversations whose final buffered_count or duplicate_count differ
    from the expected ones, or that have no status at all."""
    cols = ["conv_id", "buffered_count", "duplicate_count"]
    both = expected[cols].merge(got[cols], on="conv_id", how="left", suffixes=("", "_got"))
    bad = (
        both["buffered_count_got"].isna()
        | (both["buffered_count"] != both["buffered_count_got"])
        | (both["duplicate_count"] != both["duplicate_count_got"])
    )
    return int(bad.sum()) + max(0, got["conv_id"].nunique() - len(expected))
