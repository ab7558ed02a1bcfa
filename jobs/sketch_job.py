#!/usr/bin/env python
"""Cluster sketch-build job — the spark-submit entry point (BASELINE.json:6).

    spark-submit --py-files sketchlib.zip jobs/sketch_job.py \
        --input /data/transcripts --format parquet \
        --col conv_id --kind hll --param p=14 \
        --checkpoint /ck/run1 --output /out/sketch.blob

    # per-key sketches at high cardinality:
    spark-submit --py-files sketchlib.zip jobs/sketch_job.py \
        --input ... --col text --key conv_id --kind hll --param p=12 \
        --output /out/per_conv    (written as parquet (key, sketch, n))

Reads parquet (sandbox) or Iceberg (--format iceberg, production). Emits one
JSON status line with rows, estimate-ish introspection, and timings.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit ships the package via --py-files; for bare `python jobs/...`
# runs fall back to the repo checkout next to this file
_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo, "guava_probably_spark")):
    sys.path.insert(0, _repo)


def _parse_params(pairs: list[str]) -> dict:
    out: dict = {}
    for pair in pairs:
        k, v = pair.split("=", 1)
        try:
            out[k] = int(v)
        except ValueError:
            try:
                out[k] = float(v)
            except ValueError:
                out[k] = v
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--col", required=True)
    ap.add_argument("--key", default=None, help="grouped build: one sketch per key")
    ap.add_argument("--kind", required=True,
                    choices=["bloom", "cuckoo", "hll", "cms", "kll", "tdigest",
                             "mg", "theta", "sbf", "dd", "req", "fd", "bottomk",
                             "countsketch", "tuple", "qf", "varopt"])
    ap.add_argument(
        "--value-col",
        default=None,
        help="weighted global build (tuple/cms/countsketch): per-row int "
        "weight summed per key — tuple answers distinct-key value totals",
    )
    ap.add_argument("--param", action="append", default=[], help="k=v, repeatable")
    ap.add_argument("--checkpoint", default=None, help="resumable per-file partials dir")
    ap.add_argument("--output", default=None, help="blob file (global) / parquet dir (grouped)")
    ap.add_argument(
        "--window-order",
        default=None,
        help="with --key: merge-prefix running distinct of --col per key, "
        "ordered by this column (writes parquet key, order, run_distinct, estimate)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from guava_probably_spark.operators import (
        build_grouped,
        build_with_checkpoint,
        collect_sketch,
        grouped_hll,
        running_distinct,
    )
    from guava_probably_spark.sketches import SketchSpec
    from guava_probably_spark.sources import load_transcripts

    spark = SparkSession.builder.appName(
        f"sketch-{args.kind}-{args.col}"
    ).getOrCreate()
    spec = SketchSpec(args.kind, _parse_params(args.param))
    t0 = time.monotonic()
    status: dict = {"kind": args.kind, "col": args.col, "input": args.input}

    if args.key and args.window_order:
        df = load_transcripts(spark, args.input, args.format)
        out = running_distinct(
            df, args.key, args.window_order, args.col,
            p=int(spec.params.get("p", 12)),
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            status["output"] = args.output
        status["rows"] = out.count()
    elif args.key:
        df = load_transcripts(spark, args.input, args.format)
        if args.kind == "hll":
            out = grouped_hll(df, args.key, args.col, **spec.params)
        else:
            out = build_grouped(df, args.key, args.col, spec)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            status["output"] = args.output
        status["groups"] = out.count()
    elif args.checkpoint:
        if args.format == "iceberg":
            # the checkpoint path lists raw parquet part files; globbing an
            # Iceberg warehouse dir would read stale/duplicate data files
            # from old snapshots with no error
            raise ValueError(
                "--checkpoint requires parquet input (per-file lineage); "
                "--format iceberg is not supported on this path"
            )
        sk, stats = build_with_checkpoint(
            spark, args.input, args.col, spec, args.checkpoint
        )
        status.update(
            rows=stats.rows,
            files=stats.total_files,
            reused=stats.reused,
            recomputed=stats.recomputed,
            overflow=stats.overflow,
        )
        if args.output:
            with open(args.output, "wb") as f:
                f.write(sk.to_bytes())
            status["output"] = args.output
    else:
        df = load_transcripts(spark, args.input, args.format)
        if args.value_col:
            from guava_probably_spark.operators import collect_weighted_sketch

            sk, rows, overflow = collect_weighted_sketch(
                df, args.col, args.value_col, spec
            )
            if hasattr(sk, "sum_estimate"):
                status["sum_estimate"] = sk.sum_estimate()
        else:
            sk, rows, overflow = collect_sketch(df, args.col, spec)
        status.update(rows=rows, overflow=overflow)
        if hasattr(sk, "estimate"):
            status["estimate"] = sk.estimate()
        if hasattr(sk, "expected_fpp") and args.kind in ("bloom", "cuckoo", "sbf", "qf"):
            status["expected_fpp"] = sk.expected_fpp()
        if args.output:
            with open(args.output, "wb") as f:
                f.write(sk.to_bytes())
            status["output"] = args.output

    status["secs"] = round(time.monotonic() - t0, 3)
    print(json.dumps(status))
    spark.stop()


if __name__ == "__main__":
    main()
