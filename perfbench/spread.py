#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: one run per seed, then per metric
the median and the quartile distance as a share of the median (the
``statistics.quantiles(values, n=4)`` quartiles).

    python3 perfbench/spread.py --workload grouped_build --seeds 1-5
    python3 perfbench/spread.py --workload probe_serve --seeds 1-10 --out set1.json
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
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="write every run's result line here (JSON)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    command = spec["command"]
    seconds = args.seconds or spec["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*command, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result["seed"], result["wall_s"] = seed, wall
        runs.append(result)
        values = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f} s correct={result['correct']} {values}", flush=True)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for name in names:
        med, rel = spread([r["metrics"][name]["value"] for r in runs])
        summary[name] = {"median": med, "iqr_share": rel, "bound": bounds.get(name)}
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if rel < bound / 3 else "  WIDE (>= bound/3)")
        print(f"{name:<28} median={med:.6g}  iqr/median={rel:.4f}  bound={bound}{flag}")
    print(f"mean wall per run: {statistics.fmean(r['wall_s'] for r in runs):.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
