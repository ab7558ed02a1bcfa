"""The one partial kernel, partial schema and tree merge that every global
build shares: the single, weighted, multi, file and checkpointed builds
agree on empty, all-NULL and NaN inputs, and a multi build stays exact
through several merge stages."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from guava_probably_spark.operators import (
    build_grouped,
    build_with_checkpoint,
    collect_sketch,
    collect_sketches_files,
    collect_sketches_multi,
    collect_weighted_sketch,
)
from guava_probably_spark.sketches import SketchSpec

TARGETS = [
    ("hll", "k", SketchSpec("hll", {"p": 12})),
    ("cms", "k", SketchSpec("cms", {"epsilon": 0.01, "delta": 0.01})),
    ("kll", "v", SketchSpec("kll", {"k": 200})),
]


@pytest.mark.parametrize("rows", [[], [(None, None)] * 6], ids=["empty", "all_null"])
def test_empty_and_all_null_inputs_give_every_target_an_empty_sketch(spark, tmp_path, rows):
    """Every target of a multi or file build gets ``(spec.create(), 0, 0)``
    when no task ingests a value, as ``collect_sketch`` gives."""
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, "k string, v double").repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    multi = collect_sketches_multi(df, TARGETS)
    files = collect_sketches_files(spark, path, TARGETS)
    for out in (multi, files):
        assert set(out) == {name for name, _, _ in TARGETS}
        for name, col, spec in TARGETS:
            sk, n, overflow = out[name]
            assert (n, overflow) == (0, 0), name
            assert sk.to_bytes() == spec.create().to_bytes(), name
    for name, col, spec in TARGETS:
        single, n, overflow = collect_sketch(df, col, spec)
        assert (n, overflow) == (0, 0)
        assert single.to_bytes() == multi[name][0].to_bytes()


@pytest.mark.parametrize(
    "spec",
    [
        SketchSpec("kll", {"k": 200}),
        SketchSpec("tdigest", {"delta": 100}),
        SketchSpec("dd", {"alpha": 0.01}),
        SketchSpec("req", {"k": 12}),
    ],
    ids=lambda s: s.kind,
)
def test_value_sketch_n_skips_nan_on_every_path(spark, tmp_path, spec):
    """Over [1.0, NaN, NULL, 2.0] a value sketch ingests two values, and
    every build reports n = 2, as ``build_grouped`` does."""
    path = str(tmp_path / "nan")
    rows = [(1.0,), (float("nan"),), (None,), (2.0,)]
    spark.createDataFrame(rows, "v double").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    (grouped,) = build_grouped(df.withColumn("g", F.lit(0)), "g", "v", spec).collect()
    targets = [("q", "v", spec)]
    single = collect_sketch(df, "v", spec)
    multi = collect_sketches_multi(df, targets)["q"]
    files = collect_sketches_files(spark, path, targets)["q"]
    ckpt, stats = build_with_checkpoint(spark, path, "v", spec, str(tmp_path / "ck"))
    assert grouped.n == single[1] == multi[1] == files[1] == stats.rows == 2
    for sk in (single[0], multi[0], files[0], ckpt):
        assert sk.n == 2


def test_multi_tree_merge_across_stages(spark, sf_dir):
    """16 partitions at fanin=2 run three merge stages, each a round-robin
    repartition that folds a task's rows per name. The order-insensitive
    kinds stay byte-equal to a one-stage build and to the one-target
    builds; KLL keeps its exact n and its rank bound."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "w", F.col("event_id") % 7 + 1
    )
    tuple_spec = SketchSpec("tuple", {"k": 1024})
    targets = [
        ("hll", "user_id", SketchSpec("hll", {"p": 12})),
        ("cms", "event_type", SketchSpec("cms", {"epsilon": 0.01, "delta": 0.01})),
        ("kll", "value", SketchSpec("kll", {"k": 200})),
        ("tuple", "user_id", tuple_spec, "w"),
    ]
    staged = collect_sketches_multi(events.repartition(16), targets, fanin=2)
    flat = collect_sketches_multi(events.repartition(16), targets, fanin=64)
    rows = events.count()
    for name, col, spec, *weight in targets:
        if name == "kll":
            continue
        if weight:
            single = collect_weighted_sketch(events, col, weight[0], spec)
        else:
            single = collect_sketch(events, col, spec)
        blob = staged[name][0].to_bytes()
        assert blob == flat[name][0].to_bytes(), name
        assert blob == single[0].to_bytes(), name
        assert staged[name][1] == single[1] == rows, name
    values = np.sort(np.array([r.value for r in events.select("value").collect()]))
    kll, n, overflow = staged["kll"]
    assert (n, overflow, kll.n) == (rows, 0, rows)
    for x in np.quantile(values, [0.1, 0.25, 0.5, 0.75, 0.9]):
        exact = np.searchsorted(values, x, side="left") / len(values)
        assert abs(kll.rank(x) - exact) <= kll.rank_error_bound()
