"""File-scan build and its task planner: the pyarrow file path must give the
same blobs as the JVM scan, every file must be read by exactly one task,
and the task table must have exactly k partitions."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from guava_probably_spark.operators import (
    collect_sketches_files,
    collect_sketches_multi,
    list_input_files,
    plan_file_tasks,
)
from guava_probably_spark.sketches import SketchSpec

TARGETS = [
    ("hll_conv", "conv_id", SketchSpec("hll", {"p": 12})),
    ("bloom_conv", "conv_id", SketchSpec("bloom", {"capacity": 20_000, "fpp": 0.01})),
    ("cms_conv", "conv_id", SketchSpec("cms", {"epsilon": 0.01, "delta": 0.01})),
    ("hll_text", "text", SketchSpec("hll", {"p": 12})),
]

# rows per file: one big file, a long tail of small ones
UNEVEN = [4_000, 2_000, 1_500, 1_000, 600, 400, 250, 150, 60, 40]


@pytest.fixture(scope="module")
def uneven_input(transcripts_path, tmp_path_factory):
    """The transcripts fixture split into ten files of very different size."""
    out = tmp_path_factory.mktemp("uneven")
    table = pq.read_table(transcripts_path)
    start = 0
    for i, rows in enumerate(UNEVEN):
        pq.write_table(table.slice(start, rows), str(out / f"part-{i:02d}.parquet"))
        start += rows
    return str(out)


def _blobs(built):
    return {name: built[name][0].to_bytes() for name, _, _ in TARGETS}


def test_files_build_matches_jvm_scan_on_uneven_files(spark, uneven_input):
    files_out = collect_sketches_files(spark, uneven_input, TARGETS)
    jvm_out = collect_sketches_multi(spark.read.parquet(uneven_input), TARGETS)
    assert _blobs(files_out) == _blobs(jvm_out)
    for name, _, _ in TARGETS:
        assert files_out[name][1] == sum(UNEVEN)


def _plan_groups(spark, files):
    df = plan_file_tasks(spark, files)
    rows = df.select(F.spark_partition_id().alias("p"), "files").collect()
    return df.rdd.getNumPartitions(), rows


@pytest.mark.parametrize("n_files", [2, 10])
def test_planner_one_wave_every_file_once(spark, uneven_input, n_files):
    """k = min(#files, defaultParallelism) partitions, one group each, and
    the groups partition the file list round-robin."""
    files = list_input_files(spark, uneven_input)[:n_files]
    k = min(n_files, spark.sparkContext.defaultParallelism)
    parts, rows = _plan_groups(spark, files)
    assert parts == k
    assert sorted(r.p for r in rows) == list(range(k))
    assert [r.files for r in sorted(rows, key=lambda r: r.p)] == [
        files[t::k] for t in range(k)
    ]


def test_planner_task_table_is_constant_folded(spark, uneven_input):
    """The file-group literal is parsed once while planning, not per row."""
    files = list_input_files(spark, uneven_input)
    plan = plan_file_tasks(spark, files)._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan.lower() and "jsontostructs" not in plan.lower()


def test_files_build_single_file(spark, transcripts_path):
    files = list_input_files(spark, transcripts_path)
    assert len(files) == 1
    parts, rows = _plan_groups(spark, files)
    assert parts == 1 and rows[0].files == files
    files_out = collect_sketches_files(spark, transcripts_path, TARGETS)
    jvm_out = collect_sketches_multi(spark.read.parquet(transcripts_path), TARGETS)
    assert _blobs(files_out) == _blobs(jvm_out)
    assert files_out["hll_conv"][1] == pq.read_metadata(transcripts_path).num_rows


def test_prehashed_specs_match_across_single_multi_and_file_builds(spark, tmp_path):
    """A FUNNEL_PREHASHED column already is the 64-bit hash stream: the
    multi, file and checkpointed builds must not murmur3 it (the multi and
    file builds once did, and the fold raised ``column funnel 2 != sketch
    funnel 3``)."""
    from guava_probably_spark.operators import build_with_checkpoint, collect_sketch
    from guava_probably_spark.sketches.base import FUNNEL_PREHASHED

    path = str(tmp_path / "prehashed")
    spark.range(0, 50_000, numPartitions=4).select(
        F.xxhash64(F.col("id") % 977).alias("h")
    ).write.parquet(path)
    df = spark.read.parquet(path)
    targets = [
        ("cms", "h", SketchSpec("cms", {"epsilon": 0.01, "delta": 0.01, "funnel": FUNNEL_PREHASHED})),
        ("cs", "h", SketchSpec("countsketch", {"width": 2048, "depth": 5, "funnel": FUNNEL_PREHASHED})),
    ]
    multi = collect_sketches_multi(df, targets)
    files = collect_sketches_files(spark, path, targets)
    for name, col, spec in targets:
        single, n, _ = collect_sketch(df, col, spec)
        assert n == multi[name][1] == files[name][1] == 50_000
        assert single.funnel == FUNNEL_PREHASHED
        blob = single.to_bytes()
        assert multi[name][0].to_bytes() == blob, name
        assert files[name][0].to_bytes() == blob, name
        ckpt, stats = build_with_checkpoint(spark, path, col, spec, str(tmp_path / f"ck_{name}"))
        assert stats.rows == 50_000
        assert ckpt.to_bytes() == blob, name
