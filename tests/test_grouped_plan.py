"""The shared grouped-build plan (operators/grouped_hll, grouped_cms,
grouped_theta): one Python stage above one key exchange by default; under
``pre_reduce="auto"`` (the CMS and theta default) the map-side combine only
when the sampled skew probe finds a hot key; and one reduce-partition rule
(``defaultParallelism``, one task wave, unless the caller passes
``partitions``)."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from guava_probably_spark.operators import grouped_cms, grouped_hll, grouped_theta
from guava_probably_spark.sketches.cms import CmsSketch
from guava_probably_spark.sketches.hll import HllSketch
from guava_probably_spark.sketches.theta import ThetaSketch

# (name, build, local sketch factory); thresholds: HLL 2^p, CMS 4096, theta k
OPS = [
    ("hll", lambda d, **kw: grouped_hll(d, "g", "v", p=10, **kw), lambda: HllSketch(p=10)),
    ("cms", lambda d, **kw: grouped_cms(d, "g", "v", 0.05, 0.1, **kw), lambda: CmsSketch(0.05, 0.1)),
    ("theta", lambda d, **kw: grouped_theta(d, "g", "v", k=256, **kw), lambda: ThetaSketch(k=256)),
]


def _plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]  # AQE prints both once run


def _key_exchange_partitions(plan: str) -> list[int]:
    return [int(n) for n in re.findall(r"Exchange hashpartitioning\(k#\d+, (\d+)\)", plan)]


@pytest.mark.parametrize("name,build,_local", OPS, ids=[o[0] for o in OPS])
def test_default_plan_is_one_python_stage_in_one_task_wave(spark, name, build, _local):
    df = spark.range(6_000).select(  # 1,000 keys of 6 rows: none is hot
        F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")).alias("g"),
        F.concat(F.lit("item"), (F.col("id") * 7 % 300).cast("string")).alias("v"),
    )
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")  # Spark's default
    try:
        plan = _plan(build(df))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInArrow") < plan.index("Exchange"), plan  # above it
    assert _key_exchange_partitions(plan) == [cores], plan  # not 200, not 2 × cores
    # an explicit partition count still wins
    assert _key_exchange_partitions(_plan(build(df, partitions=6))) == [6]


def _hot_pdf(n_hot=40_000, n_cold=300):
    """One hot key: ≥ 2× the CMS threshold (4096) × 4 input partitions,
    with heavy value duplication, plus a cold tail of single-row keys."""
    return pd.DataFrame(
        {
            "g": ["hot"] * n_hot + [f"c{i}" for i in range(n_cold)],
            "v": [f"u{i % 5000}" for i in range(n_hot)] + [f"x{i % 7}" for i in range(n_cold)],
        }
    )


@pytest.mark.parametrize("name,build,local", OPS, ids=[o[0] for o in OPS])
def test_hot_key_auto_takes_map_side_combine_with_identical_blobs(spark, name, build, local):
    pdf = _hot_pdf()
    df = spark.createDataFrame(pdf).repartition(4)
    auto = build(df, pre_reduce="auto")
    assert _plan(auto).count("MapInArrow") == 2  # combine, exchange, build
    # None means "auto" in all three; only HLL defaults to the one-stage plan
    assert _plan(build(df, pre_reduce=None)).count("MapInArrow") == 2
    assert _plan(build(df)).count("MapInArrow") == (1 if name == "hll" else 2)

    def blobs(out):
        return {r[0]: (bytes(r.sketch), r.n) for r in out.collect()}

    got = blobs(auto)
    assert got == blobs(build(df, pre_reduce=False))
    assert set(got) == set(pdf.g)
    for g in ("hot", "c0", "c299"):
        ref = local()
        sub = pdf.v[pdf.g == g]
        ref.update(np.asarray(sub, dtype=object))
        assert got[g] == (ref.to_bytes(), len(sub)), (name, g)

    # prehash resolves the default to the one-stage plan instead of raising
    pre = build(df, prehash=True)
    assert _plan(pre).count("MapInArrow") == 1
    assert {r[0]: r.n for r in pre.collect()}["hot"] == 40_000
