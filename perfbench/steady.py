"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)`` gives
them) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload dedupe_pages --seeds 1-10 [--jsonl runs.jsonl]

Runs are sequential: two Spark sessions at once would contend for the
same cores and inflate each other's spread.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--jsonl", help="append each run's result line here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        elapsed = time.monotonic() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        print(f"seed {seed}: {elapsed:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()))
        if args.jsonl:
            with open(args.jsonl, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "elapsed_s": elapsed, "result": result,
                                    **json.loads(lines[-2])}) + "\n")
        for k, v in result["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vals in metrics.items():
        s = spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{k:16s} median={statistics.median(vals):.6g} spread={s:.4f} "
              f"bound={bounds.get(k)} ok={s < bounds.get(k, 0) / 3}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
