"""Run every benchmark workload over several seeds and summarise.

    python3 perfbench/report.py                 # 10 seeds per workload
    python3 perfbench/report.py --runs 5 --workloads live_staggered --trace

For each workload and end-to-end metric it prints the unit, median,
quartiles, sample count and the quartile spread as a share of the median,
plus failed_turn_ratio over all runs (failed ÷ attempted rows; a failed
process counts every row of its run, and so does a run that leaves no
result line). Only correct runs enter the medians. ``--trace`` adds one
traced run per workload and prints its per-layer metrics. Each run is a separate
``perfbench/run.py`` process, started from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen  # noqa: E402


def _config() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, traced: bool) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if traced else "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def attempted_rows(workload: str, seed: int, seconds: int) -> int:
    """What run.py would have attempted: expected data rows plus one final
    status per conversation."""
    inputs = gen.make_inputs(workload, seed, seconds)
    return len(inputs.expected) + len(inputs.status)


def summarise(results: list[dict], names: list[str]) -> list[tuple]:
    """Median, quartiles, count and spread per metric over the correct runs."""
    rows = []
    for name in names:
        ms = [r["metrics"][name] for r in results if r["correct"] and name in r["metrics"]]
        if not ms:
            continue
        vals, unit = [m["value"] for m in ms], ms[0]["unit"]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        rows.append((name, unit, med, q1, q3, len(vals), spread))
    return rows


def main() -> int:
    cfg = _config()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in cfg["workloads"]])
    ap.add_argument("--trace", action="store_true", help="also one traced run per workload")
    ap.add_argument("--json", help="write every run's result here")
    args = ap.parse_args()

    e2e = [m["name"] for m in cfg["end_to_end"]]
    layers = [m["name"] for m in cfg["per_layer"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    everything = {}
    for w in args.workloads:
        results, attempted, failed = [], 0, 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = run_once(w, seed, cfg["run_seconds"], traced=False)
            if r is None:
                n = attempted_rows(w, seed, cfg["run_seconds"])
                r = {"correct": False, "attempted": n, "failed": n, "metrics": {}}
                print(f"{w} seed {seed}: no result, {n} rows failed", flush=True)
            results.append(r)
            attempted += r["attempted"]
            failed += r["failed"]
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        n_ok = sum(r["correct"] for r in results)
        print(f"\n== {w}: {n_ok}/{args.runs} runs correct, failed_turn_ratio {failed / max(attempted, 1):.6f}")
        print(f"{'metric':<22}{'unit':<9}{'median':>12}{'q1':>12}{'q3':>12}{'n':>4}{'spread':>9}{'bound':>7}")
        for name, unit, med, q1, q3, n, spread in summarise(results, e2e):
            print(f"{name:<22}{unit:<9}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{n:>4}{spread:>9.3f}{bounds[name]:>7}")
        everything[w] = {"runs": results}
        if args.trace:
            t = run_once(w, args.first_seed, cfg["run_seconds"], traced=True)
            everything[w]["traced"] = t
            print(f"-- {w} traced run (seed {args.first_seed}), correct={t and t['correct']}")
            for name in layers if t and t["correct"] else []:
                m = t["metrics"][name]
                print(f"   {name:<40}{m['value']:>16.4f} {m['unit']}")
        print(flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(everything, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
