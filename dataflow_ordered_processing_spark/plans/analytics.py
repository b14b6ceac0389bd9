"""Analytic queries over the engine's tables.

Two families:
  Q1–Q7 — Spark-SQL ports of the downstream BigQuery queries the reference
  ships (README.md:89-184, run-perf-test.sh:55-92): latest-status-per-key
  rank, completion rollup, last-N-per-key, progress.
  N1–N6 — the north_rule additions: tumbling/sliding/session windows,
  watermarked stream-stream join, gap detection. Batch forms here (windows
  and session_window work identically on bounded input); the streaming
  variants with watermarks live in streaming/windows.py.

All functions take DataFrames and compose pure built-in expressions — no
Python UDFs anywhere; every plan is whole-stage-codegen eligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- N1 windows
def tumbling_tool_counts(transcripts: DataFrame, width: str = "5 minutes") -> DataFrame:
    """N1: turns + tool calls per conv_id per tumbling window."""
    return (
        transcripts.groupBy("conv_id", F.window("ts", width).alias("w"))
        .agg(
            F.count("*").alias("n_turns"),
            F.count("tool").alias("n_tool_calls"),  # count() skips NULLs
        )
        .select(
            "conv_id",
            F.col("w.start").alias("window_start"),
            "n_turns",
            "n_tool_calls",
        )
    )


def sliding_turn_rate(
    transcripts: DataFrame, width: str = "10 minutes", slide: str = "2 minutes"
) -> DataFrame:
    """N2: global turn counts per sliding window."""
    return (
        transcripts.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "n_turns")
    )


def session_windows(transcripts: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """N3: conversation bursts — session windows keyed by conv_id."""
    return (
        transcripts.groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_turns"), F.min("ts").alias("first_ts"))
        .select("conv_id", F.col("first_ts").alias("session_start"), "n_turns")
    )


# ------------------------------------------------------------------- N5 join
def user_assistant_pairs(
    transcripts: DataFrame, horizon_minutes: int = 10
) -> DataFrame:
    """N5 (batch form): each user turn matched to the FIRST assistant turn of
    the same conversation within `horizon_minutes` after it. NOTE: the
    streaming join (streaming/windows.stream_user_assistant_join) emits ALL
    matches (append-mode streams cannot rank-and-keep-first); this batch form
    adds the first-match reduction on top."""
    users = transcripts.filter(F.col("role") == "user").select(
        "conv_id",
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("ts").alias("user_ts"),
    )
    assistants = transcripts.filter(F.col("role") == "assistant").select(
        "conv_id",
        F.col("turn_idx").alias("assistant_turn_idx"),
        F.col("ts").alias("assistant_ts"),
    )
    joined = users.join(assistants, "conv_id").filter(
        (F.col("assistant_ts") >= F.col("user_ts"))
        & (
            F.col("assistant_ts")
            < F.col("user_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
        & (F.col("assistant_turn_idx") > F.col("user_turn_idx"))
    )
    w = Window.partitionBy("conv_id", "user_turn_idx").orderBy(
        "assistant_ts", "assistant_turn_idx"
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("conv_id", "user_turn_idx", "assistant_turn_idx", "user_ts", "assistant_ts")
    )


# ------------------------------------------------------- N6 / Q1–Q7 statuses
def gap_report(status: DataFrame) -> DataFrame:
    """N6: keys stuck on a gap — the reference's SLA-alerting improvement
    (docs/pipeline-design.md:124-128) as a query over status rows."""
    return status.filter(F.col("buffered_count") > 0).select(
        "conv_id",
        "last_emitted",
        "earliest_buffered",
        "latest_buffered",
        "buffered_count",
        (F.col("earliest_buffered") - F.coalesce(F.col("last_emitted"), F.lit(0)) - 1).alias(
            "gap_size"
        ),
    )


def latest_status_per_key(status: DataFrame, n: int = 1) -> DataFrame:
    """Q1/Q3: latest (or last-N) status snapshots per key — the reference's
    QUALIFY RANK() OVER (PARTITION BY key ORDER BY status_ts DESC, ...)
    pattern (README.md:89-130). Spark has no QUALIFY; rank + filter."""
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("status_ts"), F.desc("received_count")
    )
    return status.withColumn("_rnk", F.rank().over(w)).filter(F.col("_rnk") <= n).drop("_rnk")


def completion_rollup(status: DataFrame) -> DataFrame:
    """Q2/Q7: completion roll-up over (latest) statuses (README.md:107-114,
    run-perf-test.sh:55-92)."""
    return status.agg(
        F.count("*").alias("n_conversations"),
        F.sum(
            F.when(
                F.col("last_event_received") & (F.col("buffered_count") == 0), 1
            ).otherwise(0)
        ).alias("n_complete"),
        F.sum("received_count").alias("total_received"),
        F.sum("result_count").alias("total_results"),
        F.sum("duplicate_count").alias("total_duplicates"),
        F.sum("buffered_count").alias("total_buffered"),
    )


def last_n_turns_per_key(ordered: DataFrame, n: int = 5) -> DataFrame:
    """Q4: latest N output rows per key by sequence (README.md:132-143)."""
    w = Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
    return (
        ordered.withColumn("_rnk", F.rank().over(w))
        .filter(F.col("_rnk") <= n)
        .drop("_rnk")
    )
