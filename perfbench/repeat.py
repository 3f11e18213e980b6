"""Repeat mode: run the benchmark several times per workload and print
the median and interquartile spread of each metric, so that bounds can
be set from measured spread.

    python3 perfbench/repeat.py --runs 10 [--first-seed 1] [--trace 0]
        [--seconds 20] [--json out.json] [workload ...]

Each run is a separate process with its own seed (``first-seed``,
``first-seed + 1``, ...). The spread is the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["info"] = json.loads(lines[-2])["perfbench_info"] if len(lines) > 1 else {}
    out["wall_s"] = time.time() - t
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    results: dict[str, list[dict]] = {}
    for w in workloads:
        results[w] = []
        for k in range(args.runs):
            r = run_once(w, args.first_seed + k, seconds, args.trace)
            results[w].append(r)
            print(f"{w} seed {args.first_seed + k}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} wall={r['wall_s']:.1f}s "
                  + " ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()
                             if n in bounds or args.trace),
                  flush=True)
    print()
    for w, runs in results.items():
        print(f"{w}: {len(runs)} runs, max wall {max(r['wall_s'] for r in runs):.1f}s, "
              f"failed {sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)}")
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs]
            med, iqr = spread(values) if len(values) >= 2 else (values[0], 0.0)
            bound = bounds.get(name)
            note = f"  bound {bound}" if bound is not None else ""
            print(f"  {name:44s} median {med:12.4f}  iqr/median {iqr:7.4f}{note}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
