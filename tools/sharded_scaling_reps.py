"""North-rule sharded 1→4 scaling under a clean-box interleaved protocol
(VERDICT r5 #7): the r5 median-of-3 had rep spread 0.55–1.06 because the
1-core legs hit box stalls. This tool runs ONE session of strictly
alternating legs

    local[1], local[4], local[1], local[4], ...   (>= 6 reps of each)

over the SAME pre-generated input (fresh JVM subprocess per leg, outputs
deleted immediately — the sharded_ab methodology), then quotes:

  - per-rep efficiency (pairing each 1-core leg with the 4-core leg run
    right after it)
  - the median-of-reps efficiency, and the efficiency of median
    throughputs — the defensible number for BASELINE.md

Writes BENCH/scaling_sharded_1_4_interleaved.json.

Usage: python tools/sharded_scaling_reps.py [--rows 4000000]
       [--convs 20000] [--reps 6] [--n-shards 256 | --n-shards auto]

--n-shards auto (VERDICT r6 #4): each leg uses the production autotune
(8 x cores -> 8 shards at local[1], 32 at local[4]) instead of 256 pinned
on both legs, testing the hypothesis that a pinned count fully amortizes
per-shard invocation overhead at 1 core and flatters the denominator.
Writes BENCH/scaling_sharded_1_4_interleaved_autotune.json in that mode.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import scaling_bench as SB  # noqa: E402  (tools/ sibling import)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--convs", type=int, default=20_000)
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--n", type=int, default=1)
    ap.add_argument("--four-n", type=int, default=4)
    ap.add_argument("--n-shards", default="256")
    ap.add_argument("--files", type=int, default=64)
    args = ap.parse_args()

    auto = args.n_shards == "auto"
    if not auto:
        SB.N_SHARDS = int(args.n_shards)

    def leg_shards(cpus):
        return 8 * cpus if auto else int(args.n_shards)

    workdir = tempfile.mkdtemp(prefix="scaling-reps-", dir="/dev/shm")
    src = os.path.join(workdir, "src")
    n_rows = SB.generate_input(src, args.rows, args.convs, files=args.files)
    print(f"generated {n_rows} arrival rows", file=sys.stderr)

    def rate(leg):
        return leg.get("sustained_turns_per_sec") or leg["turns_per_sec"]

    pairs = []
    try:
        for rep in range(args.reps):
            legs = {}
            for cpus in (args.n, args.four_n):  # strict alternation
                legs[cpus] = SB.run_leg(
                    src, cpus, workdir, n_shards=leg_shards(cpus)
                )
                print(
                    f"rep {rep} local[{cpus}]: {rate(legs[cpus])} turns/s",
                    file=sys.stderr,
                )
            tn, t4n = rate(legs[args.n]), rate(legs[args.four_n])
            pairs.append(
                {
                    "rep": rep,
                    "throughput_n": tn,
                    "throughput_4n": t4n,
                    "efficiency": round((t4n / tn) / (args.four_n / args.n), 3),
                }
            )
            print(json.dumps(pairs[-1]), file=sys.stderr)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    med_n = statistics.median(p["throughput_n"] for p in pairs)
    med_4n = statistics.median(p["throughput_4n"] for p in pairs)
    out = {
        "bench": "scaling_sharded_1_4_interleaved"
        + ("_autotune" if auto else ""),
        "engine": "sharded",
        "n_shards": "auto (8 x cores per leg)" if auto else int(args.n_shards),
        "input_rows": n_rows,
        "n_cpus": args.n,
        "four_n_cpus": args.four_n,
        "reps": args.reps,
        "protocol": "strictly alternating 1/4-core legs, fresh JVM per leg, "
        "shared input, outputs deleted per leg",
        "per_rep": pairs,
        "median_throughput_n": round(med_n, 1),
        "median_throughput_4n": round(med_4n, 1),
        "efficiency_of_medians": round((med_4n / med_n) / (args.four_n / args.n), 3),
        "median_of_rep_efficiencies": round(
            statistics.median(p["efficiency"] for p in pairs), 3
        ),
        "rep_efficiency_spread": [
            min(p["efficiency"] for p in pairs),
            max(p["efficiency"] for p in pairs),
        ],
    }
    fname = "scaling_sharded_1_4_interleaved%s.json" % ("_autotune" if auto else "")
    with open(os.path.join(REPO, "BENCH", fname), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
