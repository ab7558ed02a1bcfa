#!/usr/bin/env python3
"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload global_build --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload probe_serve --seed 1 --seconds 3 --trace 1
    python3 perfbench/run.py --workload grouped_build --seed 1 --smoke

One Python process, one closed-loop client on ``local[nproc]``: one job at
a time, the next starting when the previous one returns. The run
synthesizes (or reuses) the seeded transcripts table, sets up once, makes
one untimed warm-up pass of the workload's ops, then repeats them until
``--seconds`` have passed, checks every output, and prints a human-readable
table followed by one JSON line: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from session import (  # noqa: E402
    CORES,
    ROOT,
    WORK,
    configure_env,
    cpu_jiffies,
    ensure_input,
    peak_rss_mb,
    shutdown,
    start_session,
)

sys.path.insert(1, str(ROOT))

ROWS = 25_000  # transcripts turns per run; about 2.5 k conversations
SMOKE_ROWS = 10_000  # the smoke run's input
WARM_ROWS = 10_000  # the warm-up job's input
KERNEL_SAMPLE = 16_384  # rows of the in-process kernel table
# timed passes after the warm-up pass, even on a slow machine
MIN_TIMED = 1


def parse_args(argv):
    # imports the library: without it the run stops here, before any output
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke",
        action="store_true",
        help="tiny input, one traced pass of every op (the benchmark's own tests)",
    )
    return ap.parse_args(argv)


@dataclass
class Loop:
    """Everything the timed loop observed."""

    samples: dict = field(default_factory=dict)  # op -> [seconds]
    warm: dict = field(default_factory=dict)  # op -> seconds of its warm-up call
    first: dict = field(default_factory=dict)  # op -> (pass, result)
    failures: dict = field(default_factory=dict)  # (op, pass) -> [problem]
    attempted: int = 0
    op_counters: dict = field(default_factory=dict)  # op -> [layer counters]
    walls: dict = field(default_factory=lambda: {"traced": [], "untraced": []})
    extras: list = field(default_factory=list)
    steal_share: float = 0.0  # share of CPU time the host took during the loop

    def fail(self, key, problem: str) -> None:
        print(f"FAILED {key}: {problem}", file=sys.stderr)
        self.failures.setdefault(key, []).append(problem)


def _timed(fn, span):
    with span:
        t = time.perf_counter()
        result = fn()
        return time.perf_counter() - t, result


def timed_loop(wl, seconds: float, counters, smoke: bool) -> Loop:
    """Run the ops in order, again and again. The first pass warms up the
    ops' one-time costs (worker imports, code generation): it is checked but
    not timed. Timed passes follow until ``seconds`` have passed and at
    least ``MIN_TIMED`` are done. With ``counters``, odd passes are traced
    and even ones are not, and the run makes at least one of each, so the
    tracing overhead is measured in the run.
    A smoke run makes one traced pass and nothing else."""
    ops = wl.ops()
    loop = Loop()
    it = 0
    deadline = None
    while True:
        warm = it == 0 and not smoke
        traced = counters is not None and (smoke or it % 2 == 1)
        wall = time.perf_counter()
        for op in ops:
            loop.attempted += 1
            op_id = f"{op.name}#{it}"
            token = counters.begin(op_id) if traced else None
            span = wl.tracer.span(op.name, op_id) if traced else nullcontext()
            try:
                call = op.first if it == 0 and op.first else op.run
                dt, result = _timed(call, span)
            except Exception as exc:  # an op that raises is a failed op; keep measuring
                traceback.print_exc()
                loop.fail((op.name, it), f"raised {exc!r}")
                if token:
                    counters.end(token)
                continue
            if token:
                with wl.tracer.span("trace.read_counters", op_id):
                    loop.op_counters.setdefault(op.name, []).append(counters.end(token))
            if warm:
                loop.warm[op.name] = dt
            else:
                loop.samples.setdefault(op.name, []).append(dt)
            loop.first.setdefault(op.name, (it, result))
            for problem in op.check(result):
                loop.fail((op.name, it), problem)
        if not warm:
            loop.walls["traced" if traced else "untraced"].append(time.perf_counter() - wall)
        if traced:
            extras = wl.traced_extras()
            if extras:
                loop.attempted += 1
                for problem in extras.pop("problems", []):
                    loop.fail(("traced_extras", it), problem)
                loop.extras.append(extras)
        if deadline is None:
            deadline = time.perf_counter() + seconds
        # a traced run also needs one untraced pass to measure the overhead
        enough = it >= MIN_TIMED and (counters is None or loop.walls["untraced"])
        if smoke or (enough and time.perf_counter() >= deadline):
            return loop
        it += 1


def _tail(samples: list[float]):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    n = len(samples)
    for p in (99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
    return None


def _median_dicts(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def end_to_end(wl, loop: Loop, rows: int, setup_s: float, rss: float) -> dict:
    medians = [statistics.median(v) for v in loop.samples.values()]
    first = {op: r for op, (_, r) in loop.first.items()}
    return {
        # every op reads every row: the throughput of a median pass
        "turns_per_s": rows * len(medians) / sum(medians) if medians else 0.0,
        "op_geomean_s": math.exp(statistics.fmean(map(math.log, medians))) if medians else 0.0,
        "setup_s": setup_s,
        "blob_bytes": float(wl.blob_bytes(first)) if first else 0.0,
        "peak_rss_mb": rss,
    }


def per_layer(wl, loop: Loop, table) -> tuple[dict, dict]:
    """Per-layer metrics, and each op's median counters for the trace file."""
    from kernels import kernel_table
    from spans import LAYER_KEYS

    import pyarrow.parquet as pq

    op_med = {op: _median_dicts(cs) for op, cs in loop.op_counters.items()}
    out = {k: sum(c.get(k, 0.0) for c in op_med.values()) for k in LAYER_KEYS}
    first = {op: r for op, (_, r) in loop.first.items()}
    out.update(wl.layer_metrics(op_med, first))
    if loop.extras:
        out.update(_median_dicts(loop.extras))
    sample = pq.read_table(table.path, columns=["conv_id", "text", "turn_idx"])
    out.update(kernel_table(sample.slice(0, KERNEL_SAMPLE)))
    for kind, walls in loop.walls.items():
        out[f"trace.{kind}_iter_wall_s"] = statistics.median(walls) if walls else 0.0
    return out, op_med


def report(name, args, rows, loop, e2e, spec) -> None:
    """The human-readable table: every timing with its sample count and
    tail, then the run's end-to-end metrics by name and unit."""
    print(f"# perfbench {name} seed={args.seed} rows={rows} cpus={CORES} trace={int(bool(args.trace) or args.smoke)}")
    for op, samples in loop.samples.items():
        tail = _tail(samples)
        tail_s = f"p{tail[0]}={tail[1]:.4f}" if tail else "tail=n/a (<11 samples)"
        warm = f"  warm-up={loop.warm[op]:.4f} s" if op in loop.warm else ""
        print(f"  {op + '_s':<22} median={statistics.median(samples):.4f} s  n={len(samples)}  {tail_s}{warm}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for key, value in (e2e or {}).items():
        print(f"  {key:<22} {value:.6g} {units.get(key, '')}")
    failed = len(loop.failures)
    print(f"  {'error_rate':<22} {failed / max(loop.attempted, 1):.6g} ({failed}/{loop.attempted})")
    print(f"  {'cpu_steal':<22} {loop.steal_share:.1%} of CPU time during the loop (host contention)")
    print(f"  {'run_wall_s':<22} {time.perf_counter() - T_START:.1f} s (whole process so far)")


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    configure_env()
    from guava_probably_spark.operators import collect_sketch
    from guava_probably_spark.sketches import SketchSpec
    from spans import SparkCounters, Tracer
    from workloads import WORKLOADS

    trace = bool(args.trace) or args.smoke
    rows = SMOKE_ROWS if args.smoke else ROWS
    workload = WORKLOADS[args.workload]
    phases = {}  # phase -> process seconds at its end

    def mark(phase):
        phases[phase] = round(time.perf_counter() - T_START, 2)

    t0 = time.perf_counter()
    spark = start_session()
    mark("jvm")
    try:
        # input synthesis and the exact facts are not set-up: users do not
        # pay them
        t_inputs = time.perf_counter()
        table = ensure_input(spark, rows, args.seed)
        spark._jvm.System.gc()  # synthesis garbage must not land in the timed loop
        t0 += time.perf_counter() - t_inputs
        mark("inputs")
        tracer = Tracer()
        # set-up from session start: the JVM launch, Python worker spin-up,
        # one warm-up job on a 10 k-row range, and the workload's builds
        with tracer.span("setup"):
            warm = spark.range(WARM_ROWS).selectExpr("cast(id as string) as conv_id")
            collect_sketch(warm, "conv_id", SketchSpec("hll", {"p": 10}))
            wl = workload(spark, table, tracer)
            wl.setup()
        setup_s = time.perf_counter() - t0
        mark("setup")

        counters = SparkCounters(spark) if trace else None
        jiffies = cpu_jiffies()
        loop = timed_loop(wl, args.seconds, counters, smoke=args.smoke)
        rss = peak_rss_mb()
        total, steal = (b - a for a, b in zip(jiffies, cpu_jiffies()))
        loop.steal_share = steal / total if total else 0.0
        mark("loop")

        # oracles: independent answers, outside the timed region
        if len(loop.first) == len(wl.ops()):
            first = {op: r for op, (_, r) in loop.first.items()}
            loop.attempted += 1
            try:
                for op, problems in wl.oracles(first).items():
                    for problem in problems:
                        loop.fail((op, loop.first[op][0]), problem)
            except Exception as exc:  # a broken oracle fails the run, visibly
                traceback.print_exc()
                loop.fail(("oracles", -1), f"raised {exc!r}")
        mark("oracles")

        if trace:
            metrics, op_med = per_layer(wl, loop, table)
            declared = spec["per_layer"]
        else:
            metrics, op_med = end_to_end(wl, loop, rows, setup_s, rss), {}
            declared = spec["end_to_end"]
        mark("metrics")
        print(f"phases (s since start): {phases}", file=sys.stderr)
        report(args.workload, args, rows, loop, None if trace else metrics, spec)

        results = WORK / "results"
        results.mkdir(parents=True, exist_ok=True)
        stem = f"{args.workload}_s{args.seed}_t{int(trace)}{'_smoke' if args.smoke else ''}"
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "rows": rows,
            "cpus": CORES,
            "stats": table.stats,
            "setup_s": setup_s,
            "phases": phases,
            "cpu_steal_share": loop.steal_share,
            "samples": loop.samples,
            "warm_up_s": loop.warm,
            "failures": {f"{k[0]}#{k[1]}": v for k, v in loop.failures.items()},
            "op_counters": op_med,
            "metrics": metrics,
        }
        if trace:
            tracer.write(str(results / f"{stem}.trace.json"), detail)
        else:
            (results / f"{stem}.json").write_text(json.dumps(detail, indent=1, default=str))
    finally:
        shutdown(spark)

    failed = len(loop.failures)
    out = {
        "correct": failed == 0,
        "attempted": loop.attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared
        },
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
