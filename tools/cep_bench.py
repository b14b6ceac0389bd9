"""CEP benchmark → BENCH/cep.json.

Two questions, measured on the same deterministic skewed corpus the
scaling benches use (tools/scaling_bench.generate_input):

1. Batch row-pattern throughput: plans/cep.match_pattern strict and skip
   over N rows — the window-function plans' rows/sec (input cached so the
   measurement is the operator, not the parquet scan — the r4 lesson).

2. Streaming matcher overhead: the full sharded pipeline (run_pipeline
   subprocess, fresh JVM per leg) with and without --pattern, INTERLEAVED
   off/on × reps (box drift makes solo numbers meaningless —
   BENCH/BASELINE.md round-5 note). The pattern u=user,a=assistant,c=tool
   matches every role cycle (~n/3 matches) — a worst-case match volume, so
   the reported overhead is an upper bound.

Usage: python tools/cep_bench.py [--rows 4000000] [--convs 20000]
       [--cpus 32] [--reps 3] [--workdir /dev/shm/cepbench]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def _stream_leg(
    src: str, cpus: int, workdir: str, pattern: str | None, extra: list | None = None
) -> dict:
    out = os.path.join(workdir, "out-leg")
    ckpt = os.path.join(workdir, "ckpt-leg")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    cmd = [
        sys.executable,
        os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--source", src,
        "--out", out,
        "--checkpoint", ckpt,
        "--available-now",
        "--max-files-per-trigger", "8",
        "--master", f"local[{cpus}]",
        "--n-shards", "256",
    ]
    if pattern:
        cmd += ["--pattern", pattern]
    if extra:
        cmd += extra
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"leg failed: {proc.stderr[-2000:]}")
    r = json.loads(lines[-1])
    # tmpfs IS RAM — remove leg outputs immediately
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return r


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--convs", type=int, default=20_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--workdir", default=None)
    ap.add_argument(
        "--batch-only",
        action="store_true",
        help="run only the batch legs and merge them into an existing "
        "BENCH/cep.json (keeps its stream sections)",
    )
    args = ap.parse_args()

    from scaling_bench import generate_input

    workdir = args.workdir or tempfile.mkdtemp(prefix="cepbench-")
    src = os.path.join(workdir, "src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        n = generate_input(src, args.rows, args.convs, cpus=args.cpus)
        print(f"generated {n} rows at {src}", file=sys.stderr)

    # ---- batch legs (one session; input cached + materialized first)
    from dataflow_ordered_processing_spark.operators.cep_core import Step
    from dataflow_ordered_processing_spark.plans.cep import match_pattern
    from dataflow_ordered_processing_spark.session import get_spark

    spark = get_spark(
        "cep-bench", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    df = spark.read.parquet(src).repartition(args.cpus).cache()
    n_rows = df.count()  # materialize the cache

    strict_steps = [
        Step("u", role="user"),
        Step("a", role="assistant"),
        Step("t", role="tool"),
    ]
    skip_steps = [
        Step("u", role="user"),
        Step("s", role="tool", tool="search"),
        Step("a", role="assistant"),
    ]
    # quantified (r7): a maximal run of >=3 "flagged" turns then a user
    # turn — run detection + hop joins (_match_skip_quant). The flag is a
    # deterministic md5 predicate (geometric run lengths; the corpus role
    # column cycles, so same-role runs can't exercise a quantifier).
    from __spark_entry__ import _CEP_TIMES_FLAG  # the gate's exact flag
    from dataflow_ordered_processing_spark.operators.cep_core import Times

    times_steps = [Times(("h", _CEP_TIMES_FLAG), 3, None), Step("u", role="user")]

    batch = {}
    for name, plan in (
        ("strict", lambda: match_pattern(df, strict_steps, mode="strict")),
        ("skip", lambda: match_pattern(df, skip_steps, mode="skip", within=100_000)),
        (
            "skip_times",
            lambda: match_pattern(
                df, times_steps, mode="skip", within_turns=12
            ),
        ),
    ):
        walls, matches = [], None
        for _ in range(args.reps):
            t0 = time.time()
            matches = plan().count()
            walls.append(round(time.time() - t0, 2))
        med = statistics.median(walls)
        batch[name] = {
            "walls_s": walls,
            "median_s": med,
            "rows_per_sec": round(n_rows / med, 1),
            "matches": matches,
        }
        print(f"batch {name}: {batch[name]}", file=sys.stderr)
    spark.stop()

    if args.batch_only:
        path = os.path.join(REPO, "BENCH", "cep.json")
        result = {}
        if os.path.exists(path):
            with open(path) as f:
                result = json.load(f)
        result.update({"rows": n_rows, "convs": args.convs, "cpus": args.cpus})
        result["batch"] = batch
        with open(path, "w") as f:
            json.dump(result, f, indent=2)
        print(json.dumps(result))
        return 0

    # ---- streaming overhead: interleaved off/on reps, fresh JVM per leg
    legs = {"off": [], "on": [], "on_skip": []}
    # on_skip (r7): the streaming skip-till-next frontier matcher — same
    # funnel pattern+bound as the batch skip leg, through the full sharded
    # pipeline
    variants = (
        ("off", None, None),
        ("on", "u=user,a=assistant,c=tool", None),
        (
            "on_skip",
            "u=user,s=tool/search,a=assistant",
            ["--pattern-mode", "skip", "--pattern-within-s", "100000"],
        ),
    )
    for _ in range(args.reps):
        for key, pattern, extra in variants:
            r = _stream_leg(src, args.cpus, workdir, pattern, extra)
            legs[key].append(r["turns_per_sec"])
            print(f"stream {key}: {r}", file=sys.stderr)
    med_off = statistics.median(legs["off"])
    med_on = statistics.median(legs["on"])
    med_on_skip = statistics.median(legs["on_skip"])

    result = {
        "rows": n_rows,
        "convs": args.convs,
        "cpus": args.cpus,
        "reps": args.reps,
        "batch": batch,
        "stream_turns_per_sec_off": legs["off"],
        "stream_turns_per_sec_on": legs["on"],
        "stream_turns_per_sec_on_skip": legs["on_skip"],
        "stream_median_off": med_off,
        "stream_median_on": med_on,
        "stream_median_on_skip": med_on_skip,
        "stream_matcher_overhead_pct": round(100.0 * (1 - med_on / med_off), 1),
        "stream_skip_matcher_overhead_pct": round(
            100.0 * (1 - med_on_skip / med_off), 1
        ),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "cep.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
