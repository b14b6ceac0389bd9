"""Hot-key SLA measurement (north_rule skew, streaming answer).

A single mega-conversation is the worst case for ANY keyed-state streaming
engine (this one and the reference's keyed DoFn state alike): all of its
rows serialize into one task, so throughput caps at one core's state-machine
rate no matter how many executors exist. This tool MEASURES that SLA at a
≥1M-row single conversation and the escape hatch:

  leg "sharded"   streaming pipeline — the serialized rate (the key lands
                  in one shard; sharding does not dodge per-key
                  serialization)
  leg "routed"    --hot-keys routing: the key bypasses keyed state into the
                  raw side channel and is ordered by the DISTRIBUTED
                  two-phase salted batch plan (operators/skew.py)

Each leg is a fresh subprocess (own JVM). Results → BENCH/hot_key.json.

Usage: python tools/hot_key_bench.py [--rows 1000000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FILES_PER_TRIGGER = 8


def run_leg(src: str, cpus: int, workdir: str, tag: str, extra: list[str]) -> dict:
    out = os.path.join(workdir, f"out-{tag}")
    ckpt = os.path.join(workdir, f"ckpt-{tag}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.time()
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--source", src,
            "--out", out,
            "--checkpoint", ckpt,
            "--available-now",
            "--max-files-per-trigger", str(FILES_PER_TRIGGER),
            "--master", f"local[{cpus}]",
        ]
        + extra,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    wall = time.time() - t0
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"leg {tag} failed: {proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["subprocess_wall_s"] = round(wall, 2)
    # tmpfs IS RAM — delete outputs immediately (BENCH/BASELINE.md method)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    from tools.scaling_bench import generate_input

    workdir = args.workdir or tempfile.mkdtemp(prefix="hotkey-", dir="/dev/shm")
    src = os.path.join(workdir, "src")
    # generate_input's skew law gives conv 0 ≈ 1.5×(rows/convs); ask for 2/3
    # so the SINGLE conversation lands near the requested row count
    n_input = generate_input(src, int(args.rows * 2 / 3), 1, cpus=args.cpus)
    print(json.dumps({"event": "input", "rows": n_input, "convs": 1}))

    legs = {}
    for tag, extra in [
        ("sharded", ["--n-shards", "256"]),
        ("routed", ["--hot-keys", "conv-000000"]),
    ]:
        res = run_leg(src, args.cpus, workdir, tag, extra)
        if tag == "routed":
            rate = round(
                res.get("hot_rows_ordered", 0)
                / max(res["subprocess_wall_s"], 1e-9),
                1,
            )
            legs[tag] = {
                "rows": res.get("hot_rows_ordered"),
                "end_to_end_turns_per_sec": rate,
                "hot_batch_wall_s": res.get("hot_batch_wall_s"),
                "subprocess_wall_s": res["subprocess_wall_s"],
            }
        else:
            legs[tag] = {
                "rows": res["rows_emitted"],
                "turns_per_sec": res["turns_per_sec"],
                "sustained_turns_per_sec": res.get("sustained_turns_per_sec"),
                "subprocess_wall_s": res["subprocess_wall_s"],
            }
        print(json.dumps({"event": "leg", "tag": tag, **legs[tag]}))

    out = {
        "bench": "hot_key_single_conversation",
        "rows": n_input,
        "cpus": args.cpus,
        "files_per_trigger": FILES_PER_TRIGGER,
        "legs": legs,
        "sla_statement": (
            "a single mega-conversation serializes into one keyed-state "
            "task (throughput = the sharded leg); --hot-keys routing "
            "restores distributed ordering via the salted batch plan (the "
            "routed leg)"
        ),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "hot_key.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
