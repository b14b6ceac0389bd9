"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from dataflow_ordered_processing_spark.operators import ordered_core as core  # noqa: E402
from perfbench import check, gen, trace  # noqa: E402

FRAGMENT = os.path.join(os.path.dirname(__file__), "data", "eventlog_fragment.jsonl")
TINY = {"live_staggered": 0.3, "backfill_hotkey": 0.002}


def _replay(files: list[pd.DataFrame]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Feed the arrival files through the streaming engine's state machine,
    one call per (conversation, file), and return emitted rows and final
    status per conversation."""
    states: dict[str, core.OrderedState] = {}
    emitted = []
    for f in files:
        for conv, g in f.groupby("conv_id", sort=False):
            state = states.setdefault(conv, core.OrderedState())
            out = core.apply_batch(state, g[["turn_idx", "role", "text", "tool", "ts"]])
            emitted.append(out.assign(conv_id=conv))
    status = pd.DataFrame([core.status_dict(c, s) for c, s in states.items()])
    return pd.concat(emitted, ignore_index=True), status


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_oracle_and_checker_agree(workload):
    a = gen.make_inputs(workload, seed=5, seconds=4, scale=TINY[workload])
    b = gen.make_inputs(workload, seed=5, seconds=4, scale=TINY[workload])
    assert all(x.equals(y) for x, y in zip(a.files, b.files)), "same seed, same inputs"
    assert len(a.expected) > 0 and a.status["buffered_count"].sum() > 0, "some turns stay buffered"

    rows, status = _replay(a.files)
    assert check.check_rows(a.expected, rows) == {"missing": 0, "wrong": 0, "duplicated": 0}
    assert check.check_status(a.status, status) == 0

    if workload == "backfill_hotkey":
        assert a.status["duplicate_count"].sum() > 0, "re-delivered copies are in the input"
    c = gen.make_inputs(workload, seed=6, seconds=4, scale=TINY[workload])
    assert not c.files[-1].equals(a.files[-1]), "another seed, other inputs"


def test_checker_counts_each_kind_of_failure():
    a = gen.make_inputs("backfill_hotkey", seed=1, seconds=2, scale=0.002)
    good = a.expected.copy()
    bad = pd.concat([good.iloc[1:], good.iloc[[5, 5]]], ignore_index=True)  # one missing, two extra copies
    bad.loc[bad.index[10], "text"] = "tampered"
    bad.loc[bad.index[11], "emit_seq"] += 1
    assert check.check_rows(a.expected, bad) == {"missing": 1, "wrong": 2, "duplicated": 2}

    status = a.status.copy()
    status.loc[0, "buffered_count"] += 1
    assert check.check_status(a.status, status) == 1
    assert check.check_status(a.status, status.iloc[1:]) == 1


def test_final_status_takes_the_latest_row():
    rows = pd.DataFrame(
        {
            "conv_id": ["a", "a", "b"],
            "received_count": [2, 5, 1],
            "status_ts": pd.to_datetime(["2026-01-01 00:00:02", "2026-01-01 00:00:01", "2026-01-01 00:00:00"]),
            "buffered_count": [1, 0, 0],
            "duplicate_count": [0, 1, 0],
        }
    )
    latest = check.final_status(rows).set_index("conv_id")
    assert latest.loc["a", "received_count"] == 5 and latest.loc["a", "duplicate_count"] == 1


def test_event_log_fragment_parses_into_layer_metrics():
    # the first two micro-batches of a traced live_staggered run, trimmed to
    # the fields the parser reads: the warm-up batch and one timed batch
    log = trace.EventLog(FRAGMENT)
    launch = 1_792_217_075.0
    stamps = {
        "launch": launch, "get_spark": launch + 0.5, "ready": launch + 4.33, "start": launch + 4.35,
        "started": launch + 5.5, "done": launch + 21.22, "query_stopped": launch + 21.23,
        "read_sink": launch + 21.73, "stop": launch + 21.73, "stopped": launch + 22.13,
    }
    harness = {
        "tracing_overhead_s": 0.5, "ordered_core.apply_batch_us_per_turn": 50.0, "sinks.epochs": 2,
        "streaming.drain_s": 2.5,
    }
    m = trace.layer_metrics(log, stamps, 22.5, None, harness)

    assert set(m) == set(trace.PER_LAYER)
    assert m["session.get_spark_s"] == pytest.approx(3.83)
    assert m["session.stop_s"] == pytest.approx(0.4)
    assert m["session.warmup_jobs"] == 0
    assert m["streaming.batches"] == 2
    assert m["ordered_op.rows_in"] == 800 + 3584
    assert m["streaming.trigger_ms_p50"] == pytest.approx((6452 + 4371) / 2)
    assert m["streaming.trigger_ms_p99"] == 6452
    assert m["streaming.planning_ms"] == 600 + 300
    assert m["streaming.wal_commit_ms"] == 43 + 160 + 36 + 26
    assert m["source.latest_offset_ms"] == 34 + 55 and m["source.get_batch_ms"] == 45 + 26
    assert m["state.update_ms"] == 12138 + 9572 and m["state.commit_ms"] == 639 + 720
    assert m["state.rows"] == 787 and m["state.bytes"] == 306408
    # plan-node metrics summed over task and driver updates; the node's
    # second "number of output rows" (a state-store copy) counts once
    assert m["ordered_op.rows_out"] == 1000 + 4117
    assert m["ordered_op.python_start_ms"] == 3215
    assert m["ordered_op.python_init_ms"] == 6917 + 32551
    assert m["ordered_op.python_run_ms"] == 9227 + 8107
    assert m["ordered_op.bytes_from_python"] == 287888 + 1091256
    assert m["ordered_op.shuffle_bytes"] == 191978
    # the two epoch writes, identified by their output path
    assert m["sinks.write_ms"] == 4710 + 3475 and m["sinks.compact_ms"] == 0
    assert m["sinks.read_sink_s"] == pytest.approx(0.5)
    assert m["sinks.epochs"] == 2 and m["streaming.drain_s"] == 2.5
    assert m["batch.sort_ms"] == 0, "the batch layer is bypassed on a streaming run"
    # batch 0 starts 06:04:40.684 and runs 6.452 s; batch 1 starts 06:04:52.001
    assert m["streaming.idle_s"] == pytest.approx(52.001 - 40.684 - 6.452)
    # named: get_spark, spark.stop, query start and stop, read-back, each
    # trigger's named phases and the trigger-clock wait; the rest (imports,
    # the 41 ms the triggers leave unnamed, the hand-over to the stop, exit)
    # is unattributed
    phases = (600 + 45 + 160 + 34 + 5547 + 43) + (300 + 26 + 26 + 55 + 3910 + 36)
    named = 3.83 + 0.4 + 1.15 + 0.01 + 0.5 + phases / 1000 + (52.001 - 40.684 - 6.452)
    assert m["unattributed_s"] == pytest.approx(22.5 - named)
    assert 0.9 < m["unattributed_s"] < 1.0
    assert m["tracing_overhead_s"] == pytest.approx(0.5)


def test_trigger_waits_count_only_the_gaps_between_triggers():
    progress = [
        {"timestamp": "2026-01-01T00:00:08.000Z", "durationMs": {"triggerExecution": 5000}},
        {"timestamp": "2026-01-01T00:00:00.000Z", "durationMs": {"triggerExecution": 2500}},
        {"timestamp": "2026-01-01T00:00:04.000Z", "durationMs": {"triggerExecution": 4500}},
    ]
    # 2.5 -> 4.0 waits 1.5 s; the second trigger overruns into the third
    assert trace.trigger_waits_s(progress) == pytest.approx(1.5)


def test_files_per_batch_reads_the_source_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "0").write_text('v1\n{"path":"a","batchId":0}\n{"path":"b","batchId":0}\n')
    (log / "1").write_text('v1\n{"path":"c","batchId":1}\n')
    (log / ".1.crc").write_text("x")
    assert trace.files_per_batch(str(tmp_path)) == 1.5


def test_generated_files_follow_the_transcript_schema():
    from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA

    assert [(f.name, f.nullable) for f in gen.ARROW_SCHEMA] == [(f.name, f.nullable) for f in TRANSCRIPT_SCHEMA.fields]
