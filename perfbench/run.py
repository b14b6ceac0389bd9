"""Benchmark harness: one run of one workload.

    python3 perfbench/run.py --workload live_staggered --seed 1 --seconds 20 --trace 0

The harness generates the workload's inputs from the seed, starts the
system under test (``perfbench/sut.py``) as a fresh process, feeds it files,
watches its sink, checks every output row against the oracle, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of one untraced process and
the median set-up time of two fresh processes. ``--trace 1`` runs one
untraced and one traced process (Spark event log on) and reports the
per-layer metrics of the traced one. ``attempted`` counts expected data rows
plus one final status per conversation; ``failed`` counts the missing, wrong
and duplicated ones, and every one of them when a process fails.

All files live under ``.perfbench_work/`` in the current directory, which is
removed at the end. Exit status is 0 when a result was printed.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from dataflow_ordered_processing_spark.streaming.sinks import epoch_dirs, sink_dirs  # noqa: E402
from perfbench import check, gen, trace  # noqa: E402

SUT = os.path.join(ROOT, "perfbench", "sut.py")
END_TO_END = {
    "setup_s": "s",
    "process_wall_s": "s",
    "turns_per_s": "turns/s",
    "emit_latency_p50_s": "s",
    "emit_latency_p99_s": "s",
    "peak_pss_mb": "MB",
}
# extra fresh processes that only set up, for the setup_s median; one keeps
# a full evaluation (4 + 22 runs per workload) inside the time budget
SETUP_PROBES = 1
POLL_S = 0.02
# memory: the tree's PSS every 0.2 s; the peak is taken over medians of five
# consecutive samples, so a spike shorter than half a second does not count
PSS_EVERY_S = 0.2
PSS_WINDOW = 5
RUN_BUDGET_S = 165.0  # every process of one run ends within this
DRAIN_GRACE_S = 45.0  # live: after the last file is due, wait this long at most
# live: the query runs on a processing-time trigger, whose batches start on
# multiples of the interval since the epoch; the feed starts on the same
# grid, so every run sees files land at the same phase of the batch cycle.
# A batch costs ~3 s on 4 cores, mostly fixed; 5 s leaves room for a host
# that runs 1.5 times slower (at 4 s such runs fell behind and their latency
# doubled)
LIVE_TRIGGER_S = 5.0
LIVE_FEED_PHASE_S = 0.05
# stderr lines that mark a dirty shutdown even when the exit status is 0
SHUTDOWN_ERRORS = ("Traceback (most recent call last)", "RpcEnvStoppedException", "Could not unload state store provider")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, session id) of every live process in /proc; zombies
    have ended and are left out."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            out[int(name)] = (int(fields[1]), int(fields[3]))
    return out


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of a process and all its descendants: pages
    shared between forked Python workers count once, split among them."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _sid) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the process and of the session it leads
    (the JVM, Python workers), and wait until all of it has ended."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    sid = proc.pid
    deadline = time.time() + 15
    while time.time() < deadline:
        left = [pid for pid, (_p, s) in _proc_table().items() if s == sid]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} did not end")


@dataclass
class Sink:
    """Visibility poller over an epoch sink: each committed dir is read once,
    when first listed; a turn is visible from the commit time (the _SUCCESS
    mtime) of the first dir that holds it."""

    path: str
    tables: dict[str, pd.DataFrame] = field(default_factory=dict)
    first_seen: dict[tuple, float] = field(default_factory=dict)
    lags: list[float] = field(default_factory=list)
    epochs: set = field(default_factory=set)

    def poll(self) -> None:
        for d in sink_dirs(self.path):
            if d in self.tables:
                continue
            committed = os.path.getmtime(os.path.join(d, "_SUCCESS"))
            t = pq.read_table(d).to_pandas()
            self.tables[d] = t
            self.lags.append(time.time() - committed)
            data = t[t["row_type"] == "data"]
            for key in zip(data["conv_id"], data["turn_idx"].astype("int64")):
                if key not in self.first_seen:
                    self.first_seen[key] = committed
        self.epochs.update(epoch_dirs(self.path))

    def final(self) -> pd.DataFrame | None:
        """Every row of the committed, non-superseded dirs; None when the
        sink holds none."""
        dirs = sink_dirs(self.path)
        frames = [self.tables[d] if d in self.tables else pq.read_table(d).to_pandas() for d in dirs]
        return pd.concat(frames, ignore_index=True) if frames else None


@dataclass
class Feed:
    """Open-loop feeder. The warm-up file is in place before the query
    starts, so the first batch processes it at once. Once its rows are
    visible, file j >= 1 is published on a fixed schedule regardless of how
    the system keeps up. Each publish goes through a dot-prefixed temp name
    and a rename, because the file source lists only names without a
    leading dot."""

    staged: list[str]
    src: str
    period: float
    warm_keys: set
    t0: float | None = None  # due time of file 1
    held_s: float = 0.0  # how long the feed was held back to meet the trigger grid
    next_file: int = 0
    actual: list[float] = field(default_factory=list)

    def due(self, j: int) -> float:
        return self.t0 + (j - 1) * self.period

    def publish(self, j: int) -> None:
        name = os.path.basename(self.staged[j])
        tmp = os.path.join(self.src, "." + name + ".tmp")
        shutil.copyfile(self.staged[j], tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.actual.append(time.time())

    def warm_up(self) -> None:
        self.publish(0)
        self.next_file = 1

    def step(self, now: float, sink: Sink) -> None:
        if self.t0 is None:
            if self.warm_keys.issubset(sink.first_seen):
                self.t0 = (math.floor(now / LIVE_TRIGGER_S) + 1) * LIVE_TRIGGER_S + LIVE_FEED_PHASE_S
                self.held_s = self.t0 - now
        while self.t0 is not None and self.next_file < len(self.staged) and self.due(self.next_file) <= now:
            self.publish(self.next_file)
            self.next_file += 1

    @property
    def done(self) -> bool:
        return self.next_file == len(self.staged)

    def lateness(self) -> list[float]:
        return [a - self.due(j) for j, a in enumerate(self.actual) if j >= 1]


@dataclass
class Process:
    ok: bool
    wall_s: float
    stamps: dict
    peak_pss_bytes: int
    reason: str = ""


def _launch(args: list[str], run_dir: str, env: dict) -> tuple[subprocess.Popen, float]:
    os.makedirs(run_dir, exist_ok=True)
    # flush dirty pages left by the inputs or an earlier process, so that
    # their writeback does not compete with the process being measured
    os.sync()
    out = open(os.path.join(run_dir, "stdout"), "w")
    err = open(os.path.join(run_dir, "stderr"), "w")
    try:
        t = time.time()
        proc = subprocess.Popen(
            [sys.executable, SUT, *args], cwd=run_dir, env=env, stdout=out, stderr=err, start_new_session=True
        )
    finally:
        out.close()
        err.close()
    return proc, t


def _finish(proc: subprocess.Popen, t_launch: float, t_exit: float, run_dir: str, pss: int, timed_out: bool) -> Process:
    with open(os.path.join(run_dir, "stdout")) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    with open(os.path.join(run_dir, "stderr")) as f:
        err = f.read()
    stamps, reason = {}, ""
    try:
        stamps = json.loads(lines[-1]) if lines else {}
    except json.JSONDecodeError:
        reason = "unparsable result line"
    if timed_out:
        reason = "timed out"
    elif proc.returncode != 0:
        reason = f"exit status {proc.returncode}"
    elif not stamps:
        reason = reason or "no result line"
    else:
        for marker in SHUTDOWN_ERRORS:
            if marker in err:
                reason = f"stderr: {marker}"
                break
    if reason:
        print(f"[perfbench] process in {run_dir} failed: {reason}\n{err[-3000:]}", file=sys.stderr)
    return Process(not reason, t_exit - t_launch, stamps, pss, reason)


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.workload = workload
        self.work = work
        self.deadline = time.time() + RUN_BUDGET_S
        self.inputs = gen.make_inputs(workload, seed, seconds)
        self.staged = gen.write_all(self.inputs, os.path.join(work, "input"))
        self.cpus = len(os.sched_getaffinity(0))
        scratch = os.path.join(work, "tmp")
        os.makedirs(scratch, exist_ok=True)
        # deployment settings only: scratch paths inside the work dir, a
        # maximum driver heap that fits a shared host (the heap still starts
        # small and grows with the program's data), and no session warm-up (a
        # default get_spark replays ~50 s of warm-up shapes on 4 cores,
        # which the benchmark's run budget cannot pay in every process)
        self.env = dict(
            os.environ,
            SPARK_GRAFT_WARM="0",
            SPARK_DRIVER_MEMORY="2g",
            SPARK_GRAFT_SCRATCH=scratch,
            SPARK_LOCAL_DIRS=scratch,
            TMPDIR=scratch,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
            PYTHONUNBUFFERED="1",
        )
        self.n_runs = 0

    def _dir(self, kind: str) -> str:
        self.n_runs += 1
        return os.path.join(self.work, f"{self.n_runs:02d}-{kind}")

    def setup_probe(self) -> Process:
        run_dir = self._dir("setup")
        proc, t0 = _launch(["--workload", self.workload, "--cpus", str(self.cpus), "--setup-only"], run_dir, self.env)
        timed_out = False
        try:
            while proc.poll() is None:
                if time.time() > self.deadline:
                    proc.kill()
                    timed_out = True
                time.sleep(POLL_S)
            t_exit = time.time()
        finally:
            _stop_session(proc)
        return _finish(proc, t0, t_exit, run_dir, 0, timed_out)

    def full(self, traced: bool) -> tuple[Process, dict]:
        """One fresh process through the whole workload; returns it with the
        harness-side observations (visibility, feed, output tables)."""
        run_dir = self._dir("traced" if traced else "full")
        src = os.path.join(run_dir, "src")
        out = os.path.join(run_dir, "out")
        stop_file = os.path.join(run_dir, "stop")
        live = self.inputs.file_period_s is not None
        args = ["--workload", self.workload, "--cpus", str(self.cpus), "--output", out]
        if live:
            os.makedirs(src)
            args += ["--input", src, "--stop-file", stop_file, "--trigger-seconds", str(LIVE_TRIGGER_S)]
        else:
            args += ["--input", os.path.dirname(self.staged[0])]
        if traced:
            args += ["--event-log", os.path.join(run_dir, "eventlog")]

        expected_keys = set(zip(self.inputs.expected["conv_id"], self.inputs.expected["turn_idx"].astype("int64")))
        sink = Sink(os.path.join(out, "data"))
        feed = None
        if live:
            warm_convs = set(self.inputs.files[0]["conv_id"])
            warm = self.inputs.expected[self.inputs.expected["conv_id"].isin(warm_convs)]
            feed = Feed(self.staged, src, self.inputs.file_period_s,
                        set(zip(warm["conv_id"], warm["turn_idx"].astype("int64"))))
            feed.warm_up()
        proc, t_launch = _launch(args, run_dir, self.env)
        pss = collections.deque(maxlen=PSS_WINDOW)
        peak, next_pss, stop_sent, timed_out = 0, 0.0, False, False
        try:
            while True:
                now = time.time()
                if now >= next_pss:
                    pss.append(_tree_pss_bytes(proc.pid))
                    peak = max(peak, statistics.median(pss))
                    next_pss = now + PSS_EVERY_S
                if feed is not None:
                    feed.step(now, sink)
                if live:
                    sink.poll()
                if feed is not None and not stop_sent and feed.done:
                    drained = expected_keys.issubset(sink.first_seen)
                    if drained or now > feed.due(len(self.staged) - 1) + DRAIN_GRACE_S:
                        open(stop_file, "w").close()
                        stop_sent = True
                if proc.poll() is not None:
                    break
                if now > self.deadline:
                    proc.kill()
                    timed_out = True
                if stop_sent:
                    time.sleep(0.005)
                elif feed is not None and feed.t0 is not None and not feed.done:
                    time.sleep(max(0.0, min(POLL_S, feed.due(feed.next_file) - time.time())))
                else:
                    time.sleep(POLL_S)
            t_exit = time.time()
        finally:
            _stop_session(proc)
        p = _finish(proc, t_launch, t_exit, run_dir, peak, timed_out)
        seen = {"sink": sink, "feed": feed, "out": out}
        if live and p.ok:
            sink.poll()
        return p, seen

    def verdict(self, p: Process, seen: dict) -> dict:
        """Correctness counts and end-to-end figures of one full process."""
        attempted = len(self.inputs.expected) + len(self.inputs.status)
        res = {"attempted": attempted, "failed": attempted}
        if not p.ok:
            return res
        inputs, stamps = self.inputs, p.stamps
        n_turns = inputs.n_turns
        if self.workload == "backfill_hotkey":
            rows = pq.read_table(os.path.join(seen["out"], "emit")).to_pandas()
            status = pq.read_table(os.path.join(seen["out"], "status")).to_pandas()
            emit_t = os.path.getmtime(os.path.join(seen["out"], "emit", "_SUCCESS"))
            done_t = os.path.getmtime(os.path.join(seen["out"], "status", "_SUCCESS"))
            latencies = [emit_t - stamps["start"]] * len(rows)
            first_due = last_due = stamps["start"]
        else:
            unified = seen["sink"].final()
            if unified is None:
                return res
            rows = unified[unified["row_type"] == "data"]
            status = check.final_status(unified[unified["row_type"] == "status"])
            first_seen, feed = seen["sink"].first_seen, seen["feed"]
            file_of = {}
            for j, f in enumerate(inputs.files):
                for key in zip(f["conv_id"], f["turn_idx"].astype("int64")):
                    file_of.setdefault(key, j)
            keys = zip(inputs.expected["conv_id"], inputs.expected["turn_idx"].astype("int64"))
            latencies = [first_seen[k] - feed.due(file_of[k]) for k in keys if k in first_seen and file_of[k] >= 1]
            first_due, last_due = feed.due(1), feed.due(len(inputs.files) - 1)
            n_turns -= len(inputs.files[0])  # the warm-up file is not timed
            done_t = max(first_seen.values()) if first_seen else stamps["done"]
        bad = check.check_rows(inputs.expected, rows)
        n_bad_status = check.check_status(inputs.status, status)
        res["failed"] = sum(bad.values()) + n_bad_status
        res["detail"] = {**bad, "status": n_bad_status}
        lat = sorted(latencies)
        res["metrics"] = {
            "process_wall_s": _active_wall_s(p, seen),
            "turns_per_s": n_turns / (done_t - first_due),
            "emit_latency_p50_s": lat[len(lat) // 2],
            "emit_latency_p99_s": lat[min(len(lat) - 1, int(0.99 * len(lat)))],
            "drain_s": done_t - last_due,  # per-layer only: one batch per run
            "peak_pss_mb": p.peak_pss_bytes / 2**20,
        }
        return res


def _active_wall_s(p: Process, seen: dict) -> float:
    """Process wall time minus the live feed's hold-back to the trigger
    grid, which is the harness's wait, not the system's."""
    return p.wall_s - (seen["feed"].held_s if seen["feed"] is not None else 0.0)


def _result(attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    """The result line. A run with a failed process or a failed check
    reports no metrics, so that its figures never enter a median."""
    correct = failed == 0
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()} if correct else {},
    }


def run_untraced(h: Harness) -> dict:
    p, seen = h.full(traced=False)
    res = h.verdict(p, seen)
    probes = [h.setup_probe() for _ in range(SETUP_PROBES)]
    failed = res["failed"] if all(q.ok for q in probes) else res["attempted"]
    metrics = dict(res.get("metrics", {}))
    setups = [q.stamps["ready"] - q.stamps["get_spark"] for q in (p, *probes) if q.ok]
    if setups:
        metrics["setup_s"] = statistics.median(setups)
    phases = {k: round(v - p.stamps["launch"], 2) for k, v in p.stamps.items()}
    if seen["feed"] is not None and seen["feed"].t0 is not None:
        phases["feed_t0"] = round(seen["feed"].t0 - p.stamps["launch"], 2)
    print(f"[perfbench] {h.workload}: {json.dumps(res.get('detail', {}))} setups={setups} phases={phases}",
          file=sys.stderr)
    return _result(res["attempted"], failed, metrics, END_TO_END)


def run_traced(h: Harness) -> dict:
    plain, plain_seen = h.full(traced=False)
    p, seen = h.full(traced=True)
    res = h.verdict(p, seen)
    failed = res["failed"] if plain.ok else res["attempted"]
    layers: dict = {}
    if failed == 0:
        run_dir = os.path.dirname(seen["out"])
        log_dir = os.path.join(run_dir, "eventlog")
        log = trace.EventLog(os.path.join(log_dir, os.listdir(log_dir)[0]))
        sink, feed = seen["sink"], seen["feed"]
        harness = {
            "tracing_overhead_s": _active_wall_s(p, seen) - _active_wall_s(plain, plain_seen),
            "ordered_core.apply_batch_us_per_turn": trace.replay_apply_batch(h.inputs.files),
            "sinks.epochs": len(sink.epochs) if feed else 0,
            "sinks.dirs_visible": len(sink_dirs(sink.path)) if feed else 0,
            "feeder.late_p99_s": trace.percentile(feed.lateness(), 0.99) if feed else 0.0,
            "poller.lag_s": statistics.median(sink.lags) if sink.lags else 0.0,
            "streaming.drain_s": res["metrics"]["drain_s"] if feed else 0.0,
        }
        checkpoint = os.path.join(seen["out"], "checkpoint") if feed else None
        layers = trace.layer_metrics(log, p.stamps, p.wall_s, checkpoint, harness)
    return _result(res["attempted"], failed, layers, trace.PER_LAYER)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    # a terminated harness still stops its processes and removes its files
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description="Run one benchmark workload once.")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the live feed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    parent = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        h = Harness(args.workload, args.seed, args.seconds, work)
        result = run_traced(h) if args.trace else run_untraced(h)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(parent)  # only when no other run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
