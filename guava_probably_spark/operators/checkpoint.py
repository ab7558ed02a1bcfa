"""Resumable sketch build: per-file partials with lineage + metrics.

North rule (BASELINE.json:14): "resumable from checkpoint with per-partition
lineage + metrics".  Design (SURVEY.md §4.4):

- the unit of work/recovery is the INPUT FILE (the natural unit at 100 TB —
  ~1 GB parquet files → ~100k independent tasks);
- each task reads its planned group of files (operators.filetasks) with
  pyarrow inside the Python worker (column pruning intact: pyarrow reads
  only that column's pages), runs the build kernel (operators.build
  ``_Partial``, the one every global build shares) once per file, and emits
  one checkpoint row per file:
      (file, lineage, sketch, n, overflow, secs, bytes)
  where lineage = sha256(sketch spec + column + format version) — a restart
  with a different spec never reuses stale partials;
- waves: files are processed in bounded waves, each wave APPENDED to the
  checkpoint parquet — a killed job loses at most one wave;
- resume: list the checkpoint's (lineage-matching) files, recompute only the
  missing ones, then tree-merge all partials to the final sketch with the
  build's own merge (operators.build ``_collect``).

The non-checkpointed path (operators.build) stays on the JVM parquet scan;
this path trades scan-level pushdown for exact per-partition lineage.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sketches import Sketch, SketchSpec
from .build import _collect, _ingest_file, _Partial, _spec_dedup, fold_sketch_rows
from .filetasks import list_input_files, plan_file_tasks

CHECKPOINT_SCHEMA = (
    "file string, lineage string, sketch binary, n bigint, overflow bigint, "
    "secs double, bytes bigint"
)


def job_lineage(spec: SketchSpec, col: str) -> str:
    payload = json.dumps(
        # v2: a value sketch's n no longer counts NaN
        {"kind": spec.kind, "params": spec.params, "col": col, "v": 2},
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


def _build_file_fn(col: str, spec: SketchSpec, lineage: str):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for file_path in batch.column(0).flatten().to_pylist():
                t0 = time.monotonic()
                part = _Partial([(col, col, spec)])
                table = _ingest_file(part, file_path, [col])
                sk, n, overflow = part.parts[col]
                yield pa.RecordBatch.from_pydict(
                    {
                        "file": [file_path],
                        "lineage": [lineage],
                        "sketch": [sk.to_bytes()],
                        "n": [n],
                        "overflow": [overflow],
                        "secs": [time.monotonic() - t0],
                        "bytes": [table.nbytes],
                    }
                )

    return fn


_REDUCE_SCHEMA = "file string, sketch binary, n bigint, overflow bigint, ok boolean"


def _reduce_files(dedup: bool = True):
    """Partition-local resume reduce (input hash-partitioned by file, so
    per-file state here is globally complete): keep the first DECODABLE row
    per file (corruption healing — a torn write raises ValueError on
    decode), merge the chosen sketches into one partition partial, and emit
    corrupt-only files as ok=false name rows so the driver can rebuild just
    those. ``dedup`` follows the build's cuckoo semantics (_spec_dedup)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        chosen: dict[str, tuple[Sketch, int, int]] = {}
        corrupt: set[str] = set()
        for batch in batches:
            file_col = batch.column(0).to_pylist()
            blobs = batch.column(1).to_pylist()
            ns = batch.column(2).to_pylist()
            ovs = batch.column(3).to_pylist()
            for f, blob, cnt, ov in zip(file_col, blobs, ns, ovs):
                if f in chosen:
                    continue
                try:
                    chosen[f] = (Sketch.from_bytes(blob), cnt, ov)
                    corrupt.discard(f)
                except ValueError:
                    corrupt.add(f)
        acc, n, overflow = fold_sketch_rows(chosen.values(), dedup=dedup)
        out_files: list[str | None] = sorted(corrupt)
        out_blobs: list[bytes | None] = [None] * len(out_files)
        out_n: list[int] = [0] * len(out_files)
        out_ov: list[int] = [0] * len(out_files)
        out_ok: list[bool] = [False] * len(out_files)
        if acc is not None:
            out_files.append(None)
            out_blobs.append(acc.to_bytes())
            out_n.append(n)
            out_ov.append(overflow)
            out_ok.append(True)
        if not out_files:
            return
        yield pa.RecordBatch.from_pydict(
            {
                "file": pa.array(out_files, pa.string()),
                "sketch": pa.array(out_blobs, pa.binary()),
                "n": pa.array(out_n, pa.int64()),
                "overflow": pa.array(out_ov, pa.int64()),
                "ok": pa.array(out_ok, pa.bool_()),
            }
        )

    return fn


@dataclass
class ResumeStats:
    total_files: int
    reused: int
    recomputed: int
    rows: int
    overflow: int


def build_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    col: str,
    spec: SketchSpec,
    checkpoint_dir: str,
    wave_size: int = 512,
    files_limit: int | None = None,
) -> tuple[Sketch, ResumeStats]:
    """Build a sketch over a parquet table, checkpointing per-file partials;
    re-running after a crash recomputes only the not-yet-checkpointed files.

    files_limit exists for tests to simulate a mid-job kill.
    """
    lineage = job_lineage(spec, col)
    dedup = _spec_dedup(spec)
    files = list_input_files(spark, input_path)
    if files_limit is not None:
        files = files[:files_limit]

    # Resume todo-list via ANTI-JOIN: the driver collects only the names of
    # files still to do (bounded by remaining work — near zero on a late
    # resume), never the full completed set. At 10^6 files with 99%
    # checkpointed this is ~10^4 strings instead of ~10^6 (VERDICT r2
    # item 6); blobs never reach the driver on any path.
    todo = files
    try:
        ck = spark.read.parquet(checkpoint_dir)
    except Exception:
        ck = None  # no checkpoint yet
    if ck is not None:
        all_files_df = spark.createDataFrame([(f,) for f in files], "file string")
        done_names = ck.filter(F.col("lineage") == lineage).select("file")
        todo_set = {
            r.file
            for r in all_files_df.join(done_names, "file", "left_anti").collect()
        }
        todo = [f for f in files if f in todo_set]  # keep input order
    for i in range(0, len(todo), wave_size):
        wave = plan_file_tasks(spark, todo[i : i + wave_size])
        partials = wave.mapInArrow(_build_file_fn(col, spec, lineage), CHECKPOINT_SCHEMA)
        partials.write.mode("append").parquet(checkpoint_dir)

    # Distributed resume merge: the driver never touches per-file blobs.
    # Checkpoint rows are hash-colocated by file, deduped + decoded in the
    # executors (first decodable row per file wins — rows for the same
    # file+lineage are deterministic rebuilds of the same input, so any one
    # is valid), merged into one partial per partition, then tree-merged.
    # The driver reads: corrupt-only file NAMES (expected ~0) and ≤fanin
    # final blobs. At 10^6 files this is KBs on the driver instead of GBs.
    files_df = spark.createDataFrame([(f,) for f in files], "file string")
    parts = max(2, spark.sparkContext.defaultParallelism * 2)

    def _reduced(scope_df: DataFrame) -> DataFrame:
        ck = (
            spark.read.parquet(checkpoint_dir)
            .filter(F.col("lineage") == lineage)
            .join(scope_df, "file")  # AQE broadcasts when the list is small
            .select("file", "sketch", "n", "overflow")
        )
        return ck.repartition(parts, "file").mapInArrow(
            _reduce_files(dedup), _REDUCE_SCHEMA
        )

    # unpersist in a finally so a heal failure (or any downstream raise)
    # doesn't strand cached blob partitions on the executors for the
    # lifetime of a long-lived session
    reduced = _reduced(files_df).persist()
    healed: DataFrame | None = None
    try:
        # corrupt rows carry only the file name — tiny even if a wave is torn
        bad = sorted(r.file for r in reduced.filter(~F.col("ok")).collect())
        partials = reduced.filter(F.col("ok")).select("sketch", "n", "overflow")
        if bad:
            tasks = plan_file_tasks(spark, bad)
            tasks.mapInArrow(
                _build_file_fn(col, spec, lineage), CHECKPOINT_SCHEMA
            ).write.mode("append").parquet(checkpoint_dir)
            healed = _reduced(tasks.select(F.explode("files").alias("file"))).persist()
            still_bad = [r.file for r in healed.filter(~F.col("ok")).collect()]
            if still_bad:
                raise ValueError(f"checkpoint heal failed for {still_bad[:3]}")
            # the first pass excluded corrupt-only files entirely, so unioning
            # the healed partials never double-counts
            partials = partials.unionByName(
                healed.filter(F.col("ok")).select("sketch", "n", "overflow")
            )
        named = partials.select(F.lit(col).alias("name"), "sketch", "n", "overflow")
        acc, n, overflow = _collect(named, 64, [(col, col, spec)])[col]
    finally:
        reduced.unpersist()
        if healed is not None:
            healed.unpersist()
    return acc, ResumeStats(
        total_files=len(files),
        reused=len(files) - len(todo),
        recomputed=len(todo),
        rows=n,
        overflow=overflow,
    )


def checkpoint_metrics(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Per-partition metrics view over a checkpoint (rows/bytes/secs/file)."""
    return spark.read.parquet(checkpoint_dir).select(
        "file", "lineage", "n", "overflow", "secs", "bytes"
    )
