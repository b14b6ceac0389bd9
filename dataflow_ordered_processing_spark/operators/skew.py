"""Skew handling for mega-conversations: salted repartition + two-phase
local/global merge of ordering state (north_rule requirement).

The reference deliberately GENERATES skew (per-contract rate ∝ 1-(i/n)^degree,
Simulator.java:61-69) and relies on many-keys parallelism; a single mega-key
still serializes onto one worker there. Our two-phase plan spreads even one
hot key across the cluster:

  Phase 1 (local, salted): salt = floor((turn_idx - initial) / block).
      Work is hash-exchanged on (conv_id, block) — n_blocks-way parallelism
      INSIDE one conversation. Each block independently computes three
      aggregates: row count, dedup count, and its within-block contiguous
      prefix length from the block's expected start.
  Phase 2 (global merge, tiny): per conv_id, merge ONLY the per-block
      aggregates (state O(#blocks), not O(#rows)): the emitted prefix length
      is  r·B + p  where r = leading run of complete dense blocks and p =
      the within-block prefix of block r. The row payload never passes
      through phase 2.
  Release: broadcast-join the per-key prefix length back; a row is emitted
      iff turn_idx < initial + prefix_len, and its emit_seq is just
      turn_idx - initial + 1 — NO per-key global sort or window anywhere.

Key observation making phase 1 exact: within a block, turn_idx (strictly
increasing after dedup) vs its expected slot can only fall behind once —
after the first gap every row stays ahead of its slot — so
count(turn_idx == expected_slot) IS the prefix length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _salted_ranked(df: DataFrame, block: int, initial_idx: int) -> DataFrame:
    """ONE salted payload pass shared by the whole two-phase plan: salt rows
    into blocks, dedupe duplicate deliveries (first-by-ts per turn), and
    slot-rank inside each block — a single (conv_id, _block) exchange
    carrying the payload, eagerly localCheckpoint'ed so the four consumers
    (block stats, prefix merge, release filter, depth cumsums) read one
    materialization. Before r8 each consumer branch re-derived its input
    from scratch: the physical plan held 48 separate scans of the source
    and ~100 window operators; now the source is scanned once.

    At scale the checkpoint materializes the deduped arrival once on
    executor-local storage — the same order of cost as one extra shuffle
    write of the payload, bought back several times over by the removed
    re-derivations. (Same caveat as the dedup module's checkpoints: with
    preemptible executors prefer reliable .checkpoint().)"""
    t = F.col("turn_idx").cast("long")
    blk = ((t - initial_idx) / block).cast("long")
    w_blk = Window.partitionBy("conv_id", "_block").orderBy("turn_idx")
    w_dup = Window.partitionBy("conv_id", "_block", "turn_idx").orderBy("ts")
    return (
        df.filter(t >= initial_idx)  # sub-initial rows are duplicates
        .withColumn("_block", blk)
        .withColumn("_dup", F.row_number().over(w_dup))
        .filter(F.col("_dup") == 1)
        .drop("_dup")
        .withColumn("_brn", F.row_number().over(w_blk))
        .localCheckpoint(eager=True)
    )


def _per_key_prefix_len(ranked: DataFrame, block: int, initial_idx: int) -> DataFrame:
    """(conv_id, prefix_len): length of the maximal contiguous run starting
    at initial_idx, computed from the shared salted/deduped/ranked pass with
    only tiny per-block aggregate merges."""
    t = F.col("turn_idx").cast("long")
    block_start = F.col("_block") * block + initial_idx
    in_slot = t == block_start + F.col("_brn") - 1

    stats = ranked.groupBy("conv_id", "_block").agg(
        F.count("*").alias("_bcnt"),
        F.sum(F.when(in_slot, 1).otherwise(0)).alias("_bprefix"),
    )

    # Phase-2 merge over #blocks rows per key (small): leading run of
    # complete, densely-numbered blocks, plus the next block's own prefix.
    w_key = Window.partitionBy("conv_id").orderBy("_block")
    merged = stats.withColumn("_brnk", F.row_number().over(w_key)).withColumn(
        "_complete",
        (F.col("_bcnt") == block)
        & (F.col("_bprefix") == block)
        & (F.col("_block") == F.col("_brnk") - 1),
    )
    # leading-run length r = count of rows before the first incomplete one
    incomplete_pos = merged.filter(~F.col("_complete")).groupBy("conv_id").agg(
        F.min("_brnk").alias("_first_bad")
    )
    per_key = (
        merged.groupBy("conv_id")
        .agg(F.count("*").alias("_nblocks"))
        .join(incomplete_pos, "conv_id", "left")
        .withColumn("_r", F.coalesce(F.col("_first_bad") - 1, F.col("_nblocks")))
    )
    # partial prefix of the first incomplete block — only if it is dense
    # (its block id == r, i.e. it starts exactly at the cursor)
    partial = (
        merged.join(per_key.select("conv_id", "_r"), "conv_id")
        .filter((F.col("_brnk") == F.col("_r") + 1) & (F.col("_block") == F.col("_r")))
        .select("conv_id", F.col("_bprefix").alias("_partial"))
    )
    return (
        per_key.join(partial, "conv_id", "left")
        .withColumn(
            "prefix_len", F.col("_r") * block + F.coalesce(F.col("_partial"), F.lit(0))
        )
        .select("conv_id", "prefix_len")
    )


def salted_ordered_emit_batch(
    df: DataFrame, block: int = 1024, initial_idx: int = 1
) -> DataFrame:
    """Two-phase batch ordering; output identical to ordered_emit_batch.

    Building the plan runs a Spark job: ``_salted_ranked`` calls
    ``localCheckpoint(eager=True)``, so this call itself scans, dedupes and
    materializes the salted input before any action on the result."""
    ranked = _salted_ranked(df, block, initial_idx)
    prefix = _per_key_prefix_len(ranked, block, initial_idx)
    t = F.col("turn_idx").cast("long")
    # the shared pass already deduped (first-by-ts per turn) and carries
    # _block — the release is a broadcast-filter over the checkpointed rows,
    # no second payload shuffle or dedup window
    released = (
        ranked.join(F.broadcast(prefix), "conv_id")
        .filter(t < F.col("prefix_len") + initial_idx)
        .withColumn("emit_seq", t - initial_idx + 1)
    )

    # Running depth snapshot, two-phase like everything else here: block-local
    # cumsums (salted partitioning) + per-block offsets (tiny merge), so the
    # mega-key never needs a single-partition prefix scan.
    flags = {
        "n_user_cum": F.when(F.col("role") == "user", 1).otherwise(0),
        "n_assistant_cum": F.when(F.col("role") == "assistant", 1).otherwise(0),
        "n_tool_cum": F.when(F.col("role") == "tool", 1).otherwise(0),
        "chars_cum": F.coalesce(F.length("text"), F.lit(0)).cast("long"),
    }
    w_local = Window.partitionBy("conv_id", "_block").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    for name, flag in flags.items():
        released = released.withColumn(f"_loc_{name}", F.sum(flag).over(w_local))

    totals = released.groupBy("conv_id", "_block").agg(
        *[F.sum(flag).alias(f"_tot_{name}") for name, flag in flags.items()]
    )
    w_off = Window.partitionBy("conv_id").orderBy("_block").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "conv_id",
        "_block",
        *[
            F.coalesce(F.sum(f"_tot_{name}").over(w_off), F.lit(0)).alias(f"_off_{name}")
            for name in flags
        ],
    )
    joined = released.join(offsets, ["conv_id", "_block"])
    for name in flags:
        joined = joined.withColumn(name, (F.col(f"_off_{name}") + F.col(f"_loc_{name}")).cast("long"))
    return joined.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "emit_seq",
        "n_user_cum", "n_assistant_cum", "n_tool_cum", "chars_cum",
    )


def hot_keys(df: DataFrame, threshold: int) -> DataFrame:
    """Keys whose row count exceeds the hot threshold (broadcastable)."""
    return df.groupBy("conv_id").count().filter(F.col("count") > threshold).select("conv_id")


def adaptive_ordered_emit_batch(
    df: DataFrame, hot_threshold: int = 100_000, block: int = 1024
) -> DataFrame:
    """Route hot keys through the two-phase plan, cold keys through the
    single-phase plan; union the results. The hot-key set is broadcast —
    no extra shuffle of the big side beyond the two plans' own exchanges.

    Building the plan runs a Spark job: the salted branch's
    ``localCheckpoint(eager=True)`` (in ``_salted_ranked``) computes the
    hot-key set and materializes the hot rows during this call, even when
    no key is hot."""
    from .ordered_batch import ordered_emit_batch

    hot = F.broadcast(hot_keys(df, hot_threshold))
    hot_rows = df.join(hot, "conv_id", "left_semi")
    cold_rows = df.join(hot, "conv_id", "left_anti")
    return ordered_emit_batch(cold_rows, impl="sql").unionByName(
        salted_ordered_emit_batch(hot_rows, block=block)
    )
