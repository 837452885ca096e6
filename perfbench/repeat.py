"""Run the benchmark on several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload archive --seeds 1-10
    python3 perfbench/repeat.py --workload streams --seeds 1-5 --overhead

Prints, per metric, the median and the quartile spread ((Q3 - Q1) /
median, as statistics.quantiles gives the quartiles) over the runs.
With --overhead every seed also runs traced, and the tracing overhead is
reported: the traced runs' ingest rate and query median against the
untraced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0:0] = [ROOT]

from perfbench.stats import median, quartile_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    host = next(line for line in out.splitlines() if line.startswith("perfbench host "))
    result["host"] = json.loads(host[len("perfbench host "):])
    return result


def summarise(results: list[dict]) -> dict:
    names = results[0]["metrics"].keys()
    return {
        k: (median(r["metrics"][k]["value"] for r in results),
            quartile_spread([r["metrics"][k]["value"] for r in results]))
        for k in names
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    traces = (0, 1) if args.overhead else (args.trace,)
    results = {t: [] for t in traces}
    for seed in _seeds(args.seeds):
        for t in traces:
            r = run_once(args.workload, seed, seconds, t)
            results[t].append(r)
            print(f"seed {seed} trace {t}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  f"steal={r['host']['steal_frac']}", flush=True)
    for t in traces:
        print(f"--- {args.workload}, trace {t}, {len(results[t])} runs: median, quartile spread")
        for k, (m, s) in summarise(results[t]).items():
            print(f"{k:36s} {m:14.4f} {s:8.4f}")
    if args.overhead:
        plain, traced = summarise(results[0]), summarise(results[1])
        ingest = 1 - traced["trace.ingest_docs_per_s"][0] / plain["ingest_docs_per_s"][0]
        query = traced["trace.query_p50_s"][0] / plain["query_p50_s"][0] - 1
        print(f"tracing overhead: ingest rate {ingest:+.1%}, query median {query:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
