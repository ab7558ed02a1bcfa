"""``build_grouped`` (per-key sketches of any kind) on the shared grouped
plan: one Python stage above a sort and one key exchange of
``defaultParallelism`` partitions, a stage that streams each partition
batch by batch, and the grouping semantics of the plan — NULL keys,
all-null values, composite keys, weights, keys spanning batches, cuckoo
overflow, and the deprecated ``salt``."""

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from guava_probably_spark.operators import build_grouped
from guava_probably_spark.sketches import SketchSpec

BLOOM = SketchSpec("bloom", {"capacity": 50_000, "fpp": 0.01})
HLL = SketchSpec("hll", {"p": 10})


def _plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]  # AQE prints both once run


def _blobs(out, *keys):
    return {tuple(r[k] for k in keys): (bytes(r.sketch), r.n) for r in out.collect()}


def _local(spec, values, weights=None):
    sk = spec.create()
    sk.update(pa.array(values), **({} if weights is None else {"weights": weights}))
    return sk.to_bytes()


def test_default_plan_is_one_python_stage_above_one_key_exchange(spark):
    df = spark.range(6_000).select(  # 1,000 keys of 6 rows: none is hot
        F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")).alias("g"),
        F.concat(F.lit("item"), (F.col("id") * 7 % 300).cast("string")).alias("v"),
    )
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")  # Spark's default
    try:
        plan = _plan(build_grouped(df, "g", "v", HLL))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") == 1, plan
    # MapInArrow above a Sort of each partition above the Exchange
    assert plan.index("MapInArrow") < plan.index("Sort") < plan.index("Exchange"), plan
    parts = re.findall(r"Exchange hashpartitioning\(__gp_k0#\d+, (\d+)\)", plan)
    assert parts == [str(cores)], plan


def test_hot_key_builds_in_the_one_stage_plan_with_local_blobs(spark):
    n_hot, n_cold = 40_000, 300  # hot: 10,000 rows in each of 4 input partitions
    pdf = pd.DataFrame(
        {
            "g": ["hot"] * n_hot + [f"c{i}" for i in range(n_cold)],
            "v": [f"u{i % 5000}" for i in range(n_hot)] + [f"x{i % 7}" for i in range(n_cold)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    for spec in (BLOOM, HLL):
        out = build_grouped(df, "g", "v", spec)
        assert _plan(out).count("MapInArrow") == 1  # no probe, no combine
        got = _blobs(out, "g")
        assert len(got) == n_cold + 1
        for g in ("hot", "c0", "c299"):
            sub = list(pdf.v[pdf.g == g])
            assert got[(g,)] == (_local(spec, sub), len(sub)), (spec.kind, g)


def test_null_key_is_a_group_and_all_null_values_give_n_zero(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), (None, "x"), (None, "z"), (None, None)]
        + [("b", None), ("b", None)],
        "g string, v string",
    )
    got = _blobs(build_grouped(df, "g", "v", HLL), "g")
    assert set(got) == {("a",), (None,), ("b",)}
    assert got[("a",)] == (_local(HLL, ["x", "y"]), 2)
    assert got[(None,)] == (_local(HLL, ["x", "z"]), 2)
    assert got[("b",)][1] == 0


def test_composite_keys_match_local_builds(spark):
    rows = [
        (i % 3, None if i % 5 == 0 else f"s{i % 2}", f"v{i * 13 % 97}") for i in range(600)
    ]
    df = spark.createDataFrame(rows, "a int, b string, v string")
    got = _blobs(build_grouped(df, ["a", "b"], "v", BLOOM), "a", "b")
    groups: dict = {}
    for a, b, v in rows:
        groups.setdefault((a, b), []).append(v)
    assert set(got) == set(groups)  # 3 × {s0, s1, NULL}
    for key, vals in groups.items():
        assert got[key] == (_local(BLOOM, vals), len(vals)), key


def test_weight_col_matches_local_weighted_builds(spark):
    spec = SketchSpec("cms", {"epsilon": 0.01, "delta": 0.01})
    rows = [(f"g{i % 4}", f"v{i % 37}", i % 7 + 1) for i in range(2_000)]
    rows += [("g0", None, 5), ("g1", "v1", None)]  # dropped: null value / weight
    df = spark.createDataFrame(rows, "g string, v string, w int")
    got = _blobs(build_grouped(df, "g", "v", spec, weight_col="w"), "g")
    assert len(got) == 4
    for g in ("g0", "g1", "g2", "g3"):
        kept = [(v, w) for k, v, w in rows if k == g and v is not None and w is not None]
        vals = [v for v, _ in kept]
        w = np.array([w for _, w in kept], dtype=np.int64)
        assert got[(g,)] == (_local(spec, vals, w), len(kept)), g


def test_salt_warns_and_leaves_output_unchanged(spark):
    df = spark.range(3_000).select(
        (F.col("id") % 5).alias("g"),
        F.concat(F.lit("v"), (F.col("id") % 211).cast("string")).alias("v"),
    )
    with pytest.warns(DeprecationWarning, match="salt"):
        salted = build_grouped(df, "g", "v", BLOOM, salt=8)
    assert _blobs(salted, "g") == _blobs(build_grouped(df, "g", "v", BLOOM), "g")


def test_keys_spanning_many_small_batches_match_local_builds(spark):
    """With 64-row Arrow batches every key is cut across batches; the
    stage carries each open sketch over the cuts."""
    rows = [(i % 5 if i % 11 else None, f"v{i * 7 % 331}") for i in range(3_000)]
    df = spark.createDataFrame(rows, "g int, v string")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = _blobs(build_grouped(df, "g", "v", BLOOM), "g")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    groups: dict = {}
    for g, v in rows:
        groups.setdefault((g,), []).append(v)
    assert set(got) == set(groups)
    for key, vals in groups.items():
        assert got[key] == (_local(BLOOM, vals), len(vals)), key


def test_stage_streams_sorted_batches_without_holding_the_partition():
    """The stage emits a key as soon as the next one starts, before it
    pulls any later batch, so a reduce task holds one batch (never a
    concatenation of the partition, whose 32-bit string offsets would
    overflow past 2 GiB). NULL and NaN keys run across the cuts too."""
    from guava_probably_spark.operators.build import _grouped_build_stage

    names = ["g", "h", "sketch", "n"]
    keys = [None, None, 1.0, 1.0, 1.0, 1.0, 2.0, float("nan"), float("nan")]
    subs = ["a", "a", "a", "a", "b", "b", "b", None, None]
    vals = [f"v{i}" for i in range(len(keys))]
    cuts = [0, 3, 5, 6, 8, 9]  # keys (1.0, "a") and (nan, None) span a cut
    pulled = []

    def batches():
        for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
            pulled.append(i)
            yield pa.RecordBatch.from_arrays(
                [pa.array(keys[lo:hi], pa.float64()), pa.array(subs[lo:hi], pa.string()),
                 pa.array(vals[lo:hi])],
                names=["__gp_k0", "__gp_k1", "__gp_v"],
            )

    out = _grouped_build_stage(HLL, 2, False, names)(batches())
    first = next(out)  # (None, "a") ends inside batch 0
    assert first.to_pydict()["g"] == [None] and pulled == [0]
    second = next(out)  # (1.0, "a") spans batches 0 and 1
    assert second.to_pydict()["h"] == ["a"] and pulled == [0, 1]
    rows = first.to_pylist() + second.to_pylist() + [r for b in out for r in b.to_pylist()]
    assert pulled == [0, 1, 2, 3, 4]
    got = [(r["g"], r["h"], r["sketch"], r["n"]) for r in rows]
    assert got[:4] == [
        (None, "a", _local(HLL, vals[0:2]), 2),
        (1.0, "a", _local(HLL, vals[2:4]), 2),
        (1.0, "b", _local(HLL, vals[4:6]), 2),
        (2.0, "b", _local(HLL, vals[6:7]), 1),
    ]
    assert len(got) == 5 and np.isnan(got[4][0]) and got[4][1:] == (None, _local(HLL, vals[7:]), 2)


def test_cuckoo_overflow_raises_across_batches(spark):
    """One 5,000-member group in a 1,000-slot cuckoo, fed in 500-row
    batches: the overflow raises once the group no longer fits (the salted
    build dropped the merge overflow — 3,911 members then probed False with
    no error)."""
    df = spark.createDataFrame([("g", f"v-{i}") for i in range(5_000)], "k string, v string")
    spec = SketchSpec("cuckoo", {"capacity": 1_000, "fpp": 0.01})
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        with pytest.raises(Exception, match="cuckoo capacity overflow"):
            build_grouped(df, "k", "v", spec).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
