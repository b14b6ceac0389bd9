"""Per-layer figures of one traced run, measured from outside the engine.

Sources, all produced without touching engine code:

- the Spark event log (``spark.eventLog.*`` set through
  ``get_spark(extra_conf=...)``, uncompressed, not rolling). Each
  ``SparkListenerSQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` plan
  tree maps accumulator ids to plan nodes; ``SparkListenerTaskEnd`` and
  ``SparkListenerDriverAccumUpdates`` carry the values. Streaming progress
  (``QueryProgressEvent``) rides in the same log;
- the streaming checkpoint's source log (files per micro-batch);
- the wall-clock stamps the system-under-test program prints;
- the harness's own feed and poll records.

SQL metrics summed over tasks are task time (all cores), not wall time.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections import defaultdict
from datetime import datetime

_WRITE_PATH = re.compile(r"/(epoch|compact)=[0-9-]+")

# Every per-layer metric, in BENCHMARK.json order, with its unit. A layer
# that a workload bypasses reports 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_jobs": "count",
    "session.stop_s": "s",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.files_per_batch": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p99": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.drain_s": "s",
    "streaming.idle_s": "s",
    "ordered_op.rows_in": "count",
    "ordered_op.rows_out": "count",
    "ordered_op.python_start_ms": "ms",
    "ordered_op.python_init_ms": "ms",
    "ordered_op.python_run_ms": "ms",
    "ordered_op.bytes_from_python": "bytes",
    "ordered_op.shuffle_bytes": "bytes",
    "ordered_op.shuffle_fetch_wait_ms": "ms",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows": "count",
    "state.bytes": "bytes",
    "ordered_core.apply_batch_us_per_turn": "us",
    "sinks.epochs": "count",
    "sinks.write_ms": "ms",
    "sinks.compact_ms": "ms",
    "sinks.dirs_visible": "count",
    "sinks.read_sink_s": "s",
    "ordered_batch.emit_s": "s",
    "ordered_batch.status_s": "s",
    "batch.sort_ms": "ms",
    "batch.shuffle_bytes": "bytes",
    "batch.task_max_over_median": "ratio",
    "feeder.late_p99_s": "s",
    "poller.lag_s": "s",
    "unattributed_s": "s",
    "tracing_overhead_s": "s",
}


class EventLog:
    """The parts of one application's event log the layer figures need."""

    def __init__(self, path: str):
        self.node_of: dict[int, tuple[str, str, str]] = {}  # acc id -> node, metric, type
        self.acc_total: dict[int, int] = defaultdict(int)
        self.exec_span: dict[int, list[float]] = {}  # execution id -> [start ms, end ms]
        self.exec_plan: dict[int, str] = {}
        self.job_starts: list[float] = []  # submission times, ms
        self.stages: dict[int, dict] = {}  # stage id -> submit/complete/task durations
        self.progress: list[dict] = []
        self.shuffle_fetch_wait_ms = 0
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        names = set()
        for m in node.get("metrics", []):
            # a stateful node lists "number of output rows" twice, as its own
            # metric and as a state-store metric, with equal values
            if m["name"] not in names:
                names.add(m["name"])
                self.node_of[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
            if kind == "SparkListenerSQLExecutionStart":
                self.exec_span[e["executionId"]] = [e["time"], e["time"]]
                self.exec_plan[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif kind == "SparkListenerSQLExecutionEnd":
            self.exec_span.setdefault(e["executionId"], [e["time"], e["time"]])[1] = e["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.acc_total[acc_id] += int(value)
        elif kind == "SparkListenerJobStart":
            self.job_starts.append(e["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            for acc in info.get("Accumulables", []):
                update = acc.get("Update")
                if isinstance(update, (int, float)) or (isinstance(update, str) and update.lstrip("-").isdigit()):
                    self.acc_total[acc["ID"]] += int(update)
            stage = self.stages.setdefault(e["Stage ID"], {"tasks": []})
            stage["tasks"].append(info["Finish Time"] - info["Launch Time"])
            metrics = e.get("Task Metrics") or {}
            self.shuffle_fetch_wait_ms += metrics.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage = self.stages.setdefault(info["Stage ID"], {"tasks": []})
            stage["span"] = (info.get("Submission Time", 0), info.get("Completion Time", 0))
        elif kind.endswith("QueryProgressEvent"):
            self.progress.append(e["progress"])

    def node_metric(self, node_prefix: str, metric: str) -> float:
        """Sum of one SQL metric over every plan node whose name starts with
        ``node_prefix``; nanosecond timings are returned in ms."""
        total = 0.0
        for acc_id, (node, name, kind) in self.node_of.items():
            if node.startswith(node_prefix) and name == metric:
                value = self.acc_total.get(acc_id, 0)
                total += value / 1e6 if kind == "nsTiming" else value
        return total

    def write_ms(self, kind: str) -> float:
        """Wall time of the SQL executions that write sink dirs of ``kind``
        ("epoch" or "compact")."""
        total = 0.0
        for exec_id, plan in self.exec_plan.items():
            head = plan[: plan.find("(1)")] if "(1)" in plan else plan
            if "InsertIntoHadoopFsRelationCommand" not in head:
                continue
            m = _WRITE_PATH.search(plan)
            if m and m.group(1) == kind:
                start, end = self.exec_span[exec_id]
                total += end - start
        return total

    def task_max_over_median(self) -> float:
        """Task-duration skew of the longest stage: max task / median task."""
        spans = [(s["span"][1] - s["span"][0], s["tasks"]) for s in self.stages.values() if "span" in s and s["tasks"]]
        if not spans:
            return 0.0
        _, tasks = max(spans, key=lambda x: x[0])
        med = statistics.median(tasks)
        return max(tasks) / med if med > 0 else float(max(tasks))


def files_per_batch(checkpoint: str) -> float:
    """Mean number of input files per micro-batch, from the file source's
    log in the checkpoint (``sources/0/<batch>`` and its compactions)."""
    log = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log):
        return 0.0
    per_batch: dict[int, set] = defaultdict(set)
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    per_batch[entry["batchId"]].add(entry["path"])
    return statistics.mean(len(v) for v in per_batch.values()) if per_batch else 0.0


# the phases of one trigger that StreamingQueryProgress.durationMs names;
# triggerExecution is their total plus an unnamed remainder
TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def trigger_waits_s(progress: list[dict]) -> float:
    """Seconds the query spent waiting for the trigger clock: from the end
    of each reported trigger (its start ``timestamp`` plus
    ``triggerExecution``) to the start of the next one."""
    spans = sorted(
        (_epoch_s(p["timestamp"]), p.get("durationMs", {}).get("triggerExecution", 0) / 1000) for p in progress
    )
    return sum(max(0.0, nxt - (start + took)) for (start, took), (nxt, _) in zip(spans, spans[1:]))


def _input_rows(progress: dict) -> int:
    return sum(s.get("numInputRows", 0) for s in progress.get("sources", []))


def percentile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def replay_apply_batch(files: list) -> float:
    """Microseconds per arrival turn of ``ordered_core.apply_batch`` when the
    workload's arrival files are replayed in process, one call per
    (conversation, file), as the streaming operator sees them. The split
    into per-conversation arrays happens outside the timed loop."""
    from dataflow_ordered_processing_spark.operators import ordered_core as core

    calls = []
    for f in files:
        f = f.assign(ts_us=core.ts_to_us(f["ts"]).to_numpy())
        for conv, g in f.groupby("conv_id", sort=False):
            calls.append((conv, {c: g[c].to_numpy() for c in core.BUF_COLS}))
    states: dict = {}
    t0 = time.perf_counter()
    for conv, batch in calls:
        state = states.get(conv)
        if state is None:
            state = states[conv] = core.OrderedState()
        core.apply_batch(state, batch, as_arrays=True)
    elapsed = time.perf_counter() - t0
    return elapsed * 1e6 / sum(len(f) for f in files)


def layer_metrics(
    log: EventLog,
    stamps: dict,
    process_wall_s: float,
    checkpoint: str | None,
    harness: dict,
) -> dict[str, float]:
    """Assemble every PER_LAYER value for one traced run.

    ``stamps`` are the system under test's wall-clock stamps (seconds);
    ``harness`` holds what the harness measured itself: the live drain,
    feeder lateness, poller lag, epochs seen, visible dirs, the apply_batch
    replay, and the tracing overhead (traced minus untraced process wall time).

    ``unattributed_s`` is ``process_wall_s`` minus the intervals that were
    measured as a named layer's work: get_spark and spark.stop, query start
    and stop, each trigger's named phases, the trigger-clock waits between
    triggers, the read-back, and the two batch operator calls. Interpreter
    start, imports, each trigger's unnamed remainder, and the hand-over
    between the last trigger and the stop stay unattributed."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.get_spark_s"] = stamps["ready"] - stamps["get_spark"]
    out["session.stop_s"] = stamps["stopped"] - stamps["stop"]
    out["session.warmup_jobs"] = sum(1 for t in log.job_starts if t / 1000 < stamps["ready"])
    attributed = out["session.get_spark_s"] + out["session.stop_s"]

    batches = [p for p in log.progress if _input_rows(p) > 0]
    if batches:
        durations = [p.get("durationMs", {}) for p in batches]
        trig = [d.get("triggerExecution", 0) for d in durations]
        out["source.latest_offset_ms"] = sum(d.get("latestOffset", 0) for d in durations)
        out["source.get_batch_ms"] = sum(d.get("getBatch", 0) for d in durations)
        out["source.files_per_batch"] = files_per_batch(checkpoint) if checkpoint else 0.0
        out["streaming.batches"] = len(batches)
        out["streaming.trigger_ms_p50"] = statistics.median(trig)
        out["streaming.trigger_ms_p99"] = percentile(trig, 0.99)
        out["streaming.planning_ms"] = sum(d.get("queryPlanning", 0) for d in durations)
        # the offset log (walCommit) and the commit log (commitOffsets)
        out["streaming.wal_commit_ms"] = sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in durations)
        out["ordered_op.rows_in"] = sum(_input_rows(p) for p in batches)
        ops = [p.get("stateOperators") or [{}] for p in batches]
        out["state.update_ms"] = sum(o.get("allUpdatesTimeMs", 0) for op in ops for o in op)
        out["state.commit_ms"] = sum(o.get("commitTimeMs", 0) for op in ops for o in op)
        out["state.rows"] = sum(o.get("numRowsTotal", 0) for o in ops[-1])
        out["state.bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops[-1])
        out["ordered_op.rows_out"] = log.node_metric("FlatMapGroupsInPandas", "number of output rows")
        out["ordered_op.python_start_ms"] = log.node_metric("FlatMapGroupsInPandas", "time to start Python workers")
        out["ordered_op.python_init_ms"] = log.node_metric(
            "FlatMapGroupsInPandas", "time to initialize Python workers"
        )
        out["ordered_op.python_run_ms"] = log.node_metric("FlatMapGroupsInPandas", "time to run Python workers")
        # "data sent to Python workers" stays 0 on this node in Spark 4.1
        out["ordered_op.bytes_from_python"] = log.node_metric(
            "FlatMapGroupsInPandas", "data returned from Python workers"
        )
        out["ordered_op.shuffle_bytes"] = log.node_metric("Exchange", "shuffle bytes written")
        out["ordered_op.shuffle_fetch_wait_ms"] = log.shuffle_fetch_wait_ms
        out["sinks.write_ms"] = log.write_ms("epoch")
        out["sinks.compact_ms"] = log.write_ms("compact")
        out["streaming.idle_s"] = trigger_waits_s(log.progress)
        # every reported trigger, with or without input, counts its named phases
        phases = sum(v for p in log.progress for k, v in p.get("durationMs", {}).items() if k in TRIGGER_PHASES)
        attributed += stamps["started"] - stamps["start"] + stamps["query_stopped"] - stamps["done"]
        attributed += phases / 1000 + out["streaming.idle_s"]
        if "read_sink" in stamps:
            out["sinks.read_sink_s"] = stamps["read_sink"] - stamps["query_stopped"]
            attributed += out["sinks.read_sink_s"]
    if "emit_done" in stamps:
        out["ordered_batch.emit_s"] = stamps["emit_done"] - stamps["start"]
        out["ordered_batch.status_s"] = stamps["done"] - stamps["emit_done"]
        out["batch.sort_ms"] = log.node_metric("Sort", "sort time")
        out["batch.shuffle_bytes"] = log.node_metric("Exchange", "shuffle bytes written")
        out["batch.task_max_over_median"] = log.task_max_over_median()
        attributed += out["ordered_batch.emit_s"] + out["ordered_batch.status_s"]

    for key in ("streaming.drain_s", "sinks.epochs", "sinks.dirs_visible", "feeder.late_p99_s", "poller.lag_s"):
        out[key] = harness.get(key, 0.0)
    out["ordered_core.apply_batch_us_per_turn"] = harness["ordered_core.apply_batch_us_per_turn"]
    out["tracing_overhead_s"] = harness["tracing_overhead_s"]
    out["unattributed_s"] = max(0.0, process_wall_s - attributed)
    return out
