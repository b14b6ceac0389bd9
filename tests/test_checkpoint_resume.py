"""Kill-and-resume: the pipeline restarts from checkpoint, reprocesses
nothing it already committed, and the sink ends exactly-once on
(conv_id, turn_idx) — north_rule: 'resumable from checkpoint with
per-partition lineage + metrics'."""

import json
import os

import pandas as pd

from dataflow_ordered_processing_spark.sources.scenarios import scenario, serial_oracle
from dataflow_ordered_processing_spark.streaming import (
    BufferMetricsListener,
    start_ordered_pipeline,
)
from dataflow_ordered_processing_spark.streaming.sinks import SinkConfig, read_sink

from streaming_utils import StagedStream


def test_checkpoint_kill_and_resume(spark, tmp_path):
    batches = scenario("random_permutation")
    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
    )
    listener = BufferMetricsListener(os.path.join(base, "metrics.jsonl"))
    spark.streams.addListener(listener)

    st = StagedStream(spark, base)
    try:
        # leg 1: first two arrival batches, then kill the query
        q = start_ordered_pipeline(st.source(), sink, n_shards=8)
        for b in batches[:2]:
            st.push(b)
            q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

        committed_leg1 = read_sink(spark, sink.data_path).count()

        # leg 2: restart from the SAME checkpoint; feed the rest
        q2 = start_ordered_pipeline(st.source(), sink, n_shards=8)
        for b in batches[2:]:
            st.push(b)
            q2.processAllAvailable()
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination(30)
    finally:
        spark.streams.removeListener(listener)

    data = read_sink(spark, sink.data_path).toPandas()
    # exactly-once on the idempotency key
    assert not data.duplicated(subset=["conv_id", "turn_idx"]).any()
    # full oracle equality
    want = serial_oracle(batches)
    got = data.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(got["turn_idx"].astype("int64")) == list(want["turn_idx"].astype("int64"))
    assert list(got["text"]) == list(want["text"])
    assert list(got["emit_seq"].astype("int64")) == list(want["emit_seq"].astype("int64"))
    assert committed_leg1 < len(got)  # leg 1 really committed a prefix
    # every row left the engine with a sink timestamp for latency metrics
    assert data["ingest_ts"].notna().all()

    # lineage/metrics captured per micro-batch
    with open(os.path.join(base, "metrics.jsonl")) as f:
        events = [json.loads(line) for line in f]
    progress = [e for e in events if e["event"] == "progress"]
    assert progress, "listener captured no progress events"
    assert any(s["rows_total"] >= 0 for e in progress for s in e["stateOperators"])
    assert {e["event"] for e in events} >= {"started", "progress"}
