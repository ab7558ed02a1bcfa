"""VarOpt_k sampling (sketches/varopt.py, Cohen et al. SODA 2009).

Exact invariants (total preservation, sample size, witness realness) are
asserted deterministically; unbiasedness of subset-sum estimates is
verified empirically across seeds (the hash-derived randomness trade,
same as the ES/priority samplers)."""

import numpy as np
import pytest

from guava_probably_spark.sketches import Sketch, SketchSpec, VarOptSketch
from guava_probably_spark.sketches.base import FUNNEL_LONG, FUNNEL_UTF8


def _pop(n=5000, seed=3):
    rng = np.random.default_rng(seed)
    keys = np.arange(n, dtype=np.int64)
    w = np.round(rng.pareto(1.3, n) * 10 + 1).astype(np.float64)
    return keys, w


def test_total_preserved_exactly_and_size():
    keys, w = _pop()
    sk = VarOptSketch(k=200, funnel=FUNNEL_LONG)
    sk.update(keys, weights=w)
    assert sk.size == 200
    assert abs(sk.total_estimate() - w.sum()) <= 1e-6 * w.sum()
    assert sk.n_items == len(keys)
    # every witness decodes to a real key, no duplicates
    got = [kk for kk, _ in sk.sample()]
    assert len(set(got)) == len(got)
    assert set(got) <= set(keys.tolist())


def test_heavy_items_kept_exactly():
    keys, w = _pop()
    w[7] = 1e9  # one dominant item
    sk = VarOptSketch(k=50, funnel=FUNNEL_LONG)
    sk.update(keys, weights=w)
    d = dict(sk.sample())
    assert d[7] == 1e9  # heavier than tau -> exact weight, surely kept
    assert sk.tau > 0
    # heavy survivors carry their exact true weight; light ones carry tau
    for kk, est in d.items():
        if est > sk.tau * (1 + 1e-9):
            assert est == w[kk]
        else:
            assert abs(est - sk.tau) <= 1e-9 * sk.tau


def test_merge_preserves_total_and_bounds():
    keys, w = _pop(9000, seed=11)
    parts = np.array_split(np.arange(9000), 3)

    def build(idx):
        sk = VarOptSketch(k=150, funnel=FUNNEL_LONG)
        sk.update(keys[idx], weights=w[idx])
        return sk

    left = build(parts[0]).merge(build(parts[1])).merge(build(parts[2]))
    right = build(parts[0]).merge(build(parts[1]).merge(build(parts[2])))
    for sk in (left, right):
        assert sk.size == 150
        assert abs(sk.total_estimate() - w.sum()) <= 1e-6 * w.sum()
        assert sk.n_items == 9000
        got = [kk for kk, _ in sk.sample()]
        assert len(set(got)) == len(got) and set(got) <= set(keys.tolist())


def test_subset_sum_unbiased_across_seeds():
    """Mean of the subset estimate over 150 seeds within 5 sigma of the
    true subset weight (CLT band from the observed spread)."""
    keys, w = _pop(3000, seed=7)
    subset = set(range(0, 3000, 7))  # fixed subset, ~1/7 of the weight
    true = w[list(subset)].sum()
    ests = []
    for seed in range(150):
        sk = VarOptSketch(k=100, funnel=FUNNEL_LONG, seed=seed)
        sk.update(keys, weights=w)
        ests.append(sum(est for kk, est in sk.sample() if kk in subset))
    ests = np.asarray(ests)
    se = ests.std(ddof=1) / len(ests) ** 0.5
    assert abs(ests.mean() - true) <= 5 * se + 1e-9


def test_variance_beats_priority_sampling():
    """VarOpt's total variance is optimal; empirically its subset-sum
    spread must not exceed the priority sampler's on the same population
    (allow 20% slack for noise)."""
    def priority_subset_est(keys, w, k, seed, subset):
        # textbook priority sampling (DLT 2007): top-k by w/u, est = max(w, tau)
        u = np.random.default_rng(seed).uniform(1e-12, 1.0, len(w))
        q = w / u
        order = np.argsort(-q)
        tau = q[order[k]]
        top = order[:k]
        est = np.maximum(w[top], tau)
        inset = np.isin(keys[top], list(subset))
        return float(est[inset].sum())

    keys, w = _pop(3000, seed=19)
    subset = set(range(0, 3000, 5))
    true = w[list(subset)].sum()
    vo, pr = [], []
    for seed in range(120):
        sk = VarOptSketch(k=100, funnel=FUNNEL_LONG, seed=seed)
        sk.update(keys, weights=w)
        vo.append(sum(est for kk, est in sk.sample() if kk in subset))
        pr.append(priority_subset_est(keys, w, 100, seed, subset))
    vo, pr = np.asarray(vo), np.asarray(pr)
    assert ((vo - true) ** 2).mean() <= 1.2 * ((pr - true) ** 2).mean()


def test_roundtrip_and_corruption():
    keys, w = _pop(2000)
    sk = VarOptSketch(k=128, funnel=FUNNEL_LONG)
    sk.update(keys, weights=w)
    blob = sk.to_bytes()
    sk2 = Sketch.from_bytes(blob)
    assert sk2.to_bytes() == blob
    assert sk2.sample() == sk.sample()
    with pytest.raises(ValueError):
        Sketch.from_bytes(blob[:40])


def test_string_funnel_and_nan_guard():
    sk = VarOptSketch(k=10, funnel=FUNNEL_UTF8)
    docs = [f"doc-{i}" for i in range(100)]
    w = np.ones(100)
    w[3] = np.nan
    w[4] = -2.0
    w[5] = 0.0
    sk.update(docs, weights=w)
    assert sk.n_items == 97  # NaN / negative / zero dropped
    got = {kk for kk, _ in sk.sample()}
    assert got <= set(docs) and "doc-3" not in got
    assert abs(sk.total_estimate() - 97) < 1e-9


def test_incompatible_and_clear():
    a = VarOptSketch(k=64, funnel=FUNNEL_LONG)
    b = VarOptSketch(k=65, funnel=FUNNEL_LONG)
    c = VarOptSketch(k=64, funnel=FUNNEL_LONG, seed=1)
    for other in (b, c):
        with pytest.raises(ValueError):
            a.merge(other)
    a.put(1, 2.0)
    assert not a.is_empty()
    a.clear()
    assert a.is_empty() and a.total_estimate() == 0.0


def test_distributed_weighted_build(spark):
    import pyspark.sql.functions as F

    from guava_probably_spark.operators import collect_weighted_sketch

    df = spark.range(0, 30000).select(
        F.col("id").alias("k"), (F.col("id") % 97 + 1).alias("w")
    )
    sk, n, _ = collect_weighted_sketch(
        df, "k", "w", SketchSpec("varopt", {"k": 300, "funnel": FUNNEL_LONG})
    )
    assert n == 30000 and sk.size == 300
    true_total = df.agg(F.sum("w")).collect()[0][0]
    assert abs(sk.total_estimate() - true_total) <= 1e-6 * true_total
    keys = {kk for kk, _ in sk.sample()}
    assert keys <= set(range(30000))


def test_sql_surface_sketch_contains_and_varopt_total(spark):
    import pyspark.sql.functions as F

    from guava_probably_spark.functions import register_sql
    from guava_probably_spark.operators import build_grouped, collect_weighted_sketch

    register_sql(spark)
    df = spark.range(0, 6000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 997).alias("v")
    )
    # per-group qf blobs joined back to rows: every (g, v) row must probe True
    g = build_grouped(
        df, "g", "v", SketchSpec("qf", {"capacity": 4000, "fpp": 0.01, "funnel": FUNNEL_LONG})
    )
    joined = df.join(g, "g")
    joined.createOrReplaceTempView("qv")
    misses = spark.sql(
        "SELECT count(*) c FROM qv WHERE NOT sketch_contains(sketch, v)"
    ).collect()[0].c
    assert misses == 0  # zero FN through the SQL surface
    # NULL blobs (g = 3 has no filter) and NULL values in one Arrow batch:
    # both probe False, and every other row still probes True
    mixed = (
        spark.range(0, 4000)
        .select(
            (F.col("id") % 4).alias("g"),
            F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") % 997).alias("v"),
        )
        .join(g, "g", "left")
        .coalesce(1)
    )
    mixed.createOrReplaceTempView("qv_nulls")
    got = spark.sql(
        "SELECT sketch IS NULL AS no_blob, v IS NULL AS no_value, "
        "sketch_contains(sketch, v) AS hit, count(*) AS c FROM qv_nulls "
        "GROUP BY 1, 2, 3"
    ).collect()
    assert {(r.no_blob, r.no_value, r.hit) for r in got} == {
        (False, False, True),
        (False, True, False),
        (True, False, False),
        (True, True, False),
    }
    assert sum(r.c for r in got) == 4000
    # varopt_total == exact total weight through SQL
    wdf = spark.range(0, 5000).select(F.col("id").alias("k"), (F.col("id") % 13 + 1).alias("w"))
    sk, _, _ = collect_weighted_sketch(
        wdf, "k", "w", SketchSpec("varopt", {"k": 200, "funnel": FUNNEL_LONG})
    )
    spark.createDataFrame([(bytearray(sk.to_bytes()),)], "sketch binary").createOrReplaceTempView("vv")
    total = spark.sql("SELECT varopt_total(sketch) t FROM vv").collect()[0].t
    exact = wdf.agg(F.sum("w")).collect()[0][0]
    assert abs(total - exact) <= 1e-6 * exact
    # NULL blob -> SQL NULL (not NaN), per the docstring contract
    spark.createDataFrame(
        [(None,)], "sketch binary"
    ).createOrReplaceTempView("vv_null")
    assert (
        spark.sql("SELECT varopt_total(sketch) t FROM vv_null").collect()[0].t
        is None
    )


from hypothesis import given, settings, strategies as st


@settings(max_examples=50, deadline=None)
@given(
    weights=st.lists(
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False), min_size=1, max_size=400
    ),
    cut=st.integers(min_value=0, max_value=400),
    k=st.integers(min_value=2, max_value=64),
)
def test_varopt_exact_total_property(weights, cut, k):
    """For ANY weights, split point and k: merged total == whole total ==
    true Σw (to float addition), size == min(k, n), all est >= 0."""
    w = np.asarray(weights)
    keys = np.arange(len(w), dtype=np.int64)
    cut = min(cut, len(w))

    def build(idx):
        sk = VarOptSketch(k=k, funnel=FUNNEL_LONG)
        if len(idx):
            sk.update(keys[idx], weights=w[idx])
        return sk

    merged = build(np.arange(cut)).merge(build(np.arange(cut, len(w))))
    assert merged.size == min(k, len(w))
    assert abs(merged.total_estimate() - w.sum()) <= 1e-9 * max(w.sum(), 1.0)
    assert all(est > 0 for _, est in merged.sample())


def test_grouped_varopt_exact_totals_per_key(spark):
    """Per-key variance-optimal samples through the generic salted grouped
    builder: every group's Σ est_weight equals its exact row count."""
    import pyspark.sql.functions as F

    from guava_probably_spark.operators import build_grouped
    from guava_probably_spark.sketches import Sketch

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    g = build_grouped(ev, "event_type", "user_id", SketchSpec("varopt", {"k": 64}))
    rows = {r.event_type: Sketch.from_bytes(bytes(r.sketch)) for r in g.collect()}
    for et, sk in rows.items():
        n = ev.filter(F.col("event_type") == et).count()
        assert abs(sk.total_estimate() - n) <= 1e-6 * n
        assert sk.size == min(64, n)
