"""Shard-count sweep for the streaming engine (autotune evidence).

Runs the IDENTICAL full pipeline (jobs/run_pipeline.py, fresh JVM + fresh
checkpoint per run) at a fixed core count across a range of n_shards and
records sustained throughput per shard count → BENCH/shard_sweep.json.
This is the measurement behind the `n_shards=None → 8 × defaultParallelism`
default in streaming.resolve_n_shards.

Usage: python tools/shard_sweep.py [--rows 4000000] [--convs 20000]
       [--cpus 32] [--shards 64 128 256 512 1024] [--workdir /dev/shm/sweep]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scaling_bench import generate_input  # noqa: E402


def run_once(src: str, cpus: int, n_shards: int, workdir: str) -> dict:
    out = os.path.join(workdir, f"out-{n_shards}")
    ckpt = os.path.join(workdir, f"ckpt-{n_shards}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "jobs", "run_pipeline.py"),
                "--source", src,
                "--out", out,
                "--checkpoint", ckpt,
                "--available-now",
                "--max-files-per-trigger", "8",
                "--master", f"local[{cpus}]",
                "--n-shards", str(n_shards),
            ],
            capture_output=True,
            text=True,
            timeout=3600,
        )
        lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"n_shards={n_shards}: {proc.stderr[-2000:]}")
        return json.loads(lines[-1])
    finally:
        # tmpfs IS RAM: leaving outputs behind contaminates later runs
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--convs", type=int, default=20_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--shards", type=int, nargs="+",
                    default=[64, 128, 256, 512, 1024])
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    workdir = args.workdir or tempfile.mkdtemp(prefix="sweep-")
    src = os.path.join(workdir, "src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        n = generate_input(src, args.rows, args.convs)
        print(f"generated {n} arrival rows at {src}", file=sys.stderr)

    runs = {}
    for s in args.shards:
        r = run_once(src, args.cpus, s, workdir)
        runs[s] = r
        print(f"n_shards={s}: {r}", file=sys.stderr)

    def rate(leg):
        return leg.get("sustained_turns_per_sec") or leg["turns_per_sec"]

    best = max(runs, key=lambda s: rate(runs[s]))
    result = {
        "cpus": args.cpus,
        "rows": args.rows,
        "shards_per_core_best": best / args.cpus,
        "best_n_shards": best,
        "sustained_turns_per_sec": {s: rate(r) for s, r in runs.items()},
        "runs": runs,
    }
    with open(os.path.join(REPO, "BENCH", "shard_sweep.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
