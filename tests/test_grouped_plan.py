"""The shared grouped-build plan (operators/_arrow_common.grouped_build) for
all nine vectorized grouped builds: one Python stage above one key
exchange on cold input; the map-side combine exactly when the sampled skew
probe finds a hot key (never for HLL, never under ``prehash``), with the
one-stage build's output; and one reduce-partition rule
(``defaultParallelism``, one task wave, unless the caller passes
``partitions``)."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from guava_probably_spark.operators import (
    _arrow_common,
    grouped_cms,
    grouped_dd,
    grouped_hll,
    grouped_kll,
    grouped_mode,
    grouped_quantiles,
    grouped_req,
    grouped_tdigest,
    grouped_theta,
)
from guava_probably_spark.sketches import Sketch
from guava_probably_spark.sketches.cms import CmsSketch
from guava_probably_spark.sketches.hll import HllSketch
from guava_probably_spark.sketches.theta import ThetaSketch

# (name, build, how the hot-key output must match the one-stage build);
# probe thresholds: CMS / mode / quantiles 4096, theta k, KLL 16k,
# t-digest 16δ, DD 2·max_bins, REQ 64k (all ≤ the 10,000 hot rows per
# input partition of _hot_pdf); HLL never probes
OPS = [
    ("hll", lambda d, **kw: grouped_hll(d, "g", "v", p=10, **kw), "bytes"),
    ("cms", lambda d, **kw: grouped_cms(d, "g", "v", 0.05, 0.1, **kw), "bytes"),
    ("theta", lambda d, **kw: grouped_theta(d, "g", "v", k=256, **kw), "bytes"),
    ("kll", lambda d, **kw: grouped_kll(d, "g", "x", k=200, **kw), "ranks"),
    ("tdigest", lambda d, **kw: grouped_tdigest(d, "g", "x", **kw), "ranks"),
    ("dd", lambda d, **kw: grouped_dd(d, "g", "x", **kw), "bytes"),
    ("req", lambda d, **kw: grouped_req(d, "g", "x", k=32, **kw), "ranks"),
    ("mode", lambda d, **kw: grouped_mode(d, "g", "v", **kw), "rows"),
    ("quantiles", lambda d, **kw: grouped_quantiles(d, "g", "x", **kw), "rows"),
]
IDS = [o[0] for o in OPS]
LOCAL = {  # byte-identity with a local build of the key's rows
    "hll": lambda: HllSketch(p=10),
    "cms": lambda: CmsSketch(0.05, 0.1),
    "theta": lambda: ThetaSketch(k=256),
}


def _plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]  # AQE prints both once run


def _key_exchange_partitions(plan: str) -> list[int]:
    return [int(n) for n in re.findall(r"Exchange hashpartitioning\(__gp_k0#\d+, (\d+)\)", plan)]


@pytest.mark.parametrize("name,build,_match", OPS, ids=IDS)
def test_default_plan_is_one_python_stage_in_one_task_wave(spark, name, build, _match):
    df = spark.range(6_000).select(  # 1,000 keys of 6 rows: none is hot
        F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")).alias("g"),
        F.concat(F.lit("item"), (F.col("id") * 7 % 300).cast("string")).alias("v"),
        (F.col("id") * 7 % 300).cast("double").alias("x"),
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
    """One hot key: ≥ 2× every probe threshold × 4 input partitions, with
    heavy value duplication, plus a cold tail of single-row keys."""
    return pd.DataFrame(
        {
            "g": ["hot"] * n_hot + [f"c{i}" for i in range(n_cold)],
            "v": [f"u{i % 5000}" for i in range(n_hot)] + [f"x{i % 7}" for i in range(n_cold)],
            "x": [float(i % 5000) for i in range(n_hot)] + [float(i % 7) for i in range(n_cold)],
        }
    )


def _within_rank_bound(sk, xs, qs=(0.1, 0.5, 0.9)):
    xs = np.sort(xs)
    for q in qs:
        v = float(sk.quantile(q))
        lo, hi = np.mean(xs < v), np.mean(xs <= v)
        if max(0.0, lo - q, q - hi) > sk.rank_error_bound() + 0.01:
            return False
    return True


@pytest.mark.parametrize("name,build,match", OPS, ids=IDS)
def test_hot_key_auto_takes_map_side_combine_with_identical_blobs(
    spark, monkeypatch, name, build, match
):
    """A planted hot key makes the driver's probe pick the kind's combine on
    its own; the output is identical to the one-stage build's in the
    kind's determinism class (``match``)."""
    pdf = _hot_pdf()
    df = spark.createDataFrame(pdf).repartition(4)
    hot = build(df)
    # combine, exchange, build — except HLL, which never probes
    assert _plan(hot).count("MapInArrow") == (1 if name == "hll" else 2)
    got = hot.collect()
    monkeypatch.setattr(_arrow_common, "_skew_probe", lambda rows, threshold: False)
    one_stage = build(df)
    assert _plan(one_stage).count("MapInArrow") == 1
    want = one_stage.collect()

    if match == "rows":
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert {r[0] for r in got} == set(pdf.g)
        return

    def by_key(rows):
        return {r[0]: (bytes(r.sketch), r.n) for r in rows}

    got, want = by_key(got), by_key(want)
    assert set(got) == set(pdf.g)
    if match == "bytes":
        assert got == want
    else:  # order-sensitive compaction: n exact, ranks within the bound
        assert {k: n for k, (_, n) in got.items()} == {k: n for k, (_, n) in want.items()}
        xs = pdf.x[pdf.g == "hot"].to_numpy()
        for blob, _ in (got["hot"], want["hot"]):
            assert _within_rank_bound(Sketch.from_bytes(blob), xs), name
    assert got["hot"][1] == 40_000
    if name in LOCAL:
        for g in ("hot", "c0", "c299"):
            ref = LOCAL[name]()
            sub = pdf.v[pdf.g == g]
            ref.update(np.asarray(sub, dtype=object))
            assert got[g] == (ref.to_bytes(), len(sub)), (name, g)
        # prehash builds in one stage: no probe, no combine
        monkeypatch.undo()
        pre = build(df, prehash=True)
        assert _plan(pre).count("MapInArrow") == 1
        assert {r[0]: r.n for r in pre.collect()}["hot"] == 40_000
