"""Vectorized grouped CMS / segment-loop grouped KLL (operators/grouped_cms,
operators/grouped_kll): blob parity with local builds, map-side combine
invariance, estimate accuracy, mergeability."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from guava_probably_spark.operators import _arrow_common, grouped_cms, grouped_kll
from guava_probably_spark.sketches import Sketch
from guava_probably_spark.sketches.base import FUNNEL_UTF8
from guava_probably_spark.sketches.cms import CmsSketch
from guava_probably_spark.sketches.kll import KllSketch


def _probe_says(monkeypatch, verdict):
    """Pin the grouped driver's skew-probe verdict: True takes the map-side
    combine, False the one-stage build, whatever the input."""
    monkeypatch.setattr(_arrow_common, "_skew_probe", lambda rows, threshold: verdict)


def _docs(n=9_000, keys=4, vals=300):
    return pd.DataFrame(
        {
            "g": [f"k{i % keys}" for i in range(n)],
            "v": [f"item{(i * 7) % vals}" for i in range(n)],
        }
    )


def test_grouped_cms_blob_identical_to_local(spark):
    pdf = _docs()
    df = spark.createDataFrame(pdf).repartition(5)
    rows = {r.key: (r.sketch, r.n) for r in grouped_cms(df, "g", "v", 0.01, 0.05).collect()}
    assert set(rows) == set(pdf.g.unique())
    for g, sub in pdf.groupby("g"):
        ref = CmsSketch(0.01, 0.05, funnel=FUNNEL_UTF8)
        ref.update(np.asarray(sub.v, dtype=object))
        blob, n = rows[g]
        assert blob == ref.to_bytes()
        assert n == len(sub)
        sk = Sketch.from_bytes(blob)
        # exact on a heavy item within CMS bound
        heavy = sub.v.mode()[0]
        true = int((sub.v == heavy).sum())
        assert true <= sk.freq(heavy) <= true + sk.error_bound()


def test_grouped_cms_prereduce_invariant(spark, monkeypatch):
    df = spark.createDataFrame(_docs(n=12_000, keys=3, vals=50)).repartition(7)
    _probe_says(monkeypatch, True)
    a = {r.key: (r.sketch, r.n) for r in grouped_cms(df, "g", "v", 0.02, 0.1).collect()}
    _probe_says(monkeypatch, False)
    b = {r.key: (r.sketch, r.n) for r in grouped_cms(df, "g", "v", 0.02, 0.1).collect()}
    assert a == b


def test_grouped_cms_compressed_regime_roundtrip(spark):
    # eps=1e-4 → w≈27183, d·w·8 > 64 KiB ⇒ per-row zlib path
    pdf = _docs(n=2_000, keys=2, vals=40)
    df = spark.createDataFrame(pdf).repartition(3)
    rows = {r.key: r.sketch for r in grouped_cms(df, "g", "v", 1e-4, 0.1).collect()}
    for g, sub in pdf.groupby("g"):
        ref = CmsSketch(1e-4, 0.1, funnel=FUNNEL_UTF8)
        ref.update(np.asarray(sub.v, dtype=object))
        assert len(ref.to_bytes()) < 27183 * 8  # compression actually engaged
        assert rows[g] == ref.to_bytes()


def test_grouped_cms_partition_budget_raises(spark):
    df = spark.createDataFrame(_docs(n=500, keys=4)).coalesce(1)
    with pytest.raises(Exception, match="counter bytes"):
        grouped_cms(df, "g", "v", 1e-4, 1e-3, partitions=1, max_matrix_bytes=1024).collect()


def test_grouped_kll_single_partition_matches_local(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 5_000 + ["b"] * 5_000, "x": np.arange(10_000, dtype=float)}
    )
    df = spark.createDataFrame(pdf).coalesce(1)
    rows = {r.key: (r.sketch, r.n) for r in grouped_kll(df, "g", "x", k=200, partitions=1).collect()}
    for g, sub in pdf.groupby("g"):
        ref = KllSketch(k=200)
        ref.update(np.asarray(sub.x, dtype=float))
        blob, n = rows[g]
        assert n == len(sub)
        assert blob == ref.to_bytes()  # same feed order ⇒ identical compactions


def test_grouped_kll_estimates_and_merge(spark):
    rng = np.random.default_rng(7)
    n = 40_000
    pdf = pd.DataFrame({"g": [f"c{i % 8}" for i in range(n)], "x": rng.normal(0, 1, n)})
    df = spark.createDataFrame(pdf).repartition(9)
    rows = {r.key: Sketch.from_bytes(r.sketch) for r in grouped_kll(df, "g", "x", k=200).collect()}
    assert len(rows) == 8
    merged = None
    for g, sub in pdf.groupby("g"):
        sk = rows[g]
        err = sk.rank_error_bound()
        for q in (0.1, 0.5, 0.9):
            true = float(np.quantile(sub.x, q))
            est_rank = float(np.mean(np.asarray(sub.x) < sk.quantile(q)))
            assert abs(est_rank - q) <= err + 0.01
        merged = sk if merged is None else merged.merge(sk)
    # merged per-key sketches ≈ global distribution
    global_med = float(np.median(pdf.x))
    assert abs(float(np.mean(np.asarray(pdf.x) < merged.quantile(0.5))) - 0.5) <= 0.05
    assert merged.size == n


def test_grouped_kll_null_values_dropped(spark):
    pdf = pd.DataFrame({"g": ["a"] * 10, "x": [1.0, None] * 5})
    df = spark.createDataFrame(pdf)
    (row,) = grouped_kll(df, "g", "x", k=16).collect()
    assert row.n == 5


@pytest.mark.parametrize("name", ["kll", "tdigest", "dd", "req"])
def test_grouped_value_sketch_omits_keys_with_no_value(spark, name):
    """The KLL family drops NULL and NaN values, and a key with nothing
    left is omitted (``build_grouped`` instead gives it an empty sketch and
    ``n`` = 0)."""
    from guava_probably_spark.operators import grouped_dd, grouped_req, grouped_tdigest

    build = {
        "kll": grouped_kll, "tdigest": grouped_tdigest, "dd": grouped_dd, "req": grouped_req
    }[name]
    nan = float("nan")
    rows = [("a", 1.0), ("a", 2.0), ("nul", None), ("nul", None), ("nan", nan)]
    rows += [("mix", None), ("mix", nan), ("mix", 3.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r.key: r.n for r in build(df, "g", "x").collect()}
    assert got == {"a": 2, "mix": 1}


def test_grouped_partials_fold_across_batch_boundaries(spark, monkeypatch):
    """With the combine taken and 500-row Arrow batches, the hot key's raw
    rows and partial blobs reach its reduce task spread over many batches;
    the stream carries the key's sketch over every cut and folds each
    partial in: ``n`` is exact, DD blobs equal the one-stage build's, KLL
    ranks stay within the bound."""
    from guava_probably_spark.operators import grouped_dd

    # 8 input partitions of 5,000 rows: "hot" fills the even ones (over
    # both thresholds, so they ship partials) and 1,000 rows of the odd
    # ones (raw rows), whose other 4,000 rows are 400 cold keys
    i = F.col("id") % 5_000
    hot = ((F.col("id") / 5_000).cast("int") % 2 == 0) | (i < 1_000)
    df = spark.range(0, 40_000, 1, 8).select(
        F.when(hot, "hot").otherwise(F.concat(F.lit("c"), (i % 400).cast("string"))).alias("g"),
        (F.col("id") * 7_919 % 10_007).cast("double").alias("x"),
    )
    xs = np.array([i * 7_919 % 10_007 for i in range(40_000)], dtype=float)
    ids = np.arange(40_000)
    hot_xs = xs[((ids // 5_000) % 2 == 0) | (ids % 5_000 < 1_000)]
    assert len(hot_xs) == 24_000
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        out = {}
        for flag in (True, False):
            _probe_says(monkeypatch, flag)
            for name, build in (("kll", grouped_kll), ("dd", grouped_dd)):
                frame = build(df, "g", "x")
                plan = frame._jdf.queryExecution().executedPlan().toString()
                assert plan.count("MapInArrow") == (2 if flag else 1), plan
                out[name, flag] = {r.key: (bytes(r.sketch), r.n) for r in frame.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    for name in ("kll", "dd"):
        combined, one_stage = out[name, True], out[name, False]
        assert len(combined) == 401 and combined["hot"][1] == 24_000
        assert {k: n for k, (_, n) in combined.items()} == {
            k: n for k, (_, n) in one_stage.items()
        }
    assert out["dd", True] == out["dd", False]
    for blob, _ in (out["kll", True]["hot"], out["kll", False]["hot"]):
        sk = Sketch.from_bytes(blob)
        srt = np.sort(hot_xs)
        for q in (0.1, 0.5, 0.9):
            v = float(sk.quantile(q))
            lo, hi = np.mean(srt < v), np.mean(srt <= v)
            assert max(0.0, lo - q, q - hi) <= sk.rank_error_bound(), q


def test_grouped_tdigest_estimates(spark):
    """grouped_tdigest shares the segment-loop architecture: per-key
    centroids from the library's own TDigestSketch, quantiles within the
    empirical rank tolerance, sizes exact."""
    rng = np.random.default_rng(11)
    n = 30_000
    pdf = pd.DataFrame({"g": [f"c{i % 6}" for i in range(n)], "x": rng.exponential(2.0, n)})
    df = spark.createDataFrame(pdf).repartition(5)
    from guava_probably_spark.operators import grouped_tdigest

    rows = {r.key: (Sketch.from_bytes(r.sketch), r.n) for r in grouped_tdigest(df, "g", "x").collect()}
    assert len(rows) == 6
    for g, sub in pdf.groupby("g"):
        sk, cnt = rows[g]
        assert cnt == len(sub)
        for q in (0.25, 0.5, 0.75, 0.95):
            est_rank = float(np.mean(np.asarray(sub.x) < sk.quantile(q)))
            assert abs(est_rank - q) <= 0.02


def test_grouped_assume_colocated_zero_shuffle_all_kinds(spark):
    """assume_colocated=True must produce a plan with NO Exchange after the
    upstream repartition, and results identical to the shuffled build, for
    theta/cms/kll (grouped_hll already pins this)."""
    from guava_probably_spark.operators import grouped_cms, grouped_kll, grouped_theta

    pdf = _docs(n=6_000, keys=5, vals=100)
    df = spark.createDataFrame(pdf)
    pre = df.repartition(4, "g")
    for name, fn in (
        ("theta", lambda d, **kw: grouped_theta(d, "g", "v", k=64, **kw)),
        ("cms", lambda d, **kw: grouped_cms(d, "g", "v", 0.02, 0.1, **kw)),
        ("kll", lambda d, **kw: grouped_kll(
            d.withColumn("x", F.length("v").cast("double")), "g", "x", k=32, **kw)),
    ):
        colo = fn(pre, assume_colocated=True)
        plan = colo._jdf.queryExecution().executedPlan().toString()
        # exactly the ONE upstream exchange (from pre), none added by the op
        assert plan.count("Exchange") <= 1, (name, plan)
        a = {r[0]: (r.sketch, r.n) for r in colo.collect()}
        b = {r[0]: (r.sketch, r.n) for r in fn(df).collect()}
        if name == "kll":  # order-sensitive blobs: compare counts only
            assert {k: v[1] for k, v in a.items()} == {k: v[1] for k, v in b.items()}
        else:
            assert a == b, name


def test_grouped_operators_null_key_is_its_own_group(spark):
    """SQL GROUP BY keeps NULL as a group; the vectorized kernels used to
    turn the null dictionary index into INT64_MIN (NaN→int64), corrupting
    key 0's registers in grouped_hll and crashing the bincount kernels."""
    from guava_probably_spark.operators import grouped_hll
    from guava_probably_spark.operators.grouped_mode import grouped_mode
    from guava_probably_spark.operators.grouped_quantiles import grouped_quantiles

    rows = [("a", i % 7) for i in range(100)] + [(None, i % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, v long")

    est = {r.k: r.estimate for r in grouped_hll(df, "k", "v", p=12, output="estimate").collect()}
    assert set(est) == {"a", None}
    assert abs(est["a"] - 7) <= 1 and abs(est[None] - 13) <= 1

    gm = {r.k: r.top_value for r in grouped_mode(df, "k", "v").collect()}
    assert set(gm) == {"a", None}
    assert gm["a"] == 0 and gm[None] == 0  # smallest max-count value

    gq = {r.k: r.q50 for r in grouped_quantiles(df, "k", "v", [0.5]).collect()}
    assert set(gq) == {"a", None}

    ck = {r[0]: r for r in grouped_cms(df, "k", "v", epsilon=0.01, delta=0.01).collect()}
    assert set(ck) == {"a", None}
    assert ck[None].n == 100


def test_grouped_hll_int_column_blob_merges_with_ungrouped(spark):
    """Funnel byte must track the VALUE column's type: an int column builds
    FUNNEL_LONG hashes, and the grouped header used to hardcode UTF8 —
    making grouped and ungrouped blobs of the same data unmergeable."""
    from guava_probably_spark.operators import collect_sketch, grouped_hll
    from guava_probably_spark.sketches import SketchSpec

    df = spark.createDataFrame(
        [("g", i % 50) for i in range(500)], "k string, v long"
    )
    grouped_blob = grouped_hll(df, "k", "v", p=12).collect()[0].sketch
    ungrouped, _, _ = collect_sketch(df, "v", SketchSpec("hll", {"p": 12}))
    merged = Sketch.from_bytes(bytes(grouped_blob)).merge(ungrouped)
    assert abs(merged.estimate() - 50) <= 3
    # and byte-identity holds for the single-group case
    assert bytes(grouped_blob) == ungrouped.to_bytes()


def _hotkey_pdf(n_hot=60_000, n_cold_keys=500, rows_per_cold=8, seed=5):
    """One zipf-hot key with few distinct values + a cold tail."""
    rng = np.random.default_rng(seed)
    hot = pd.DataFrame(
        {"g": ["hot"] * n_hot, "x": rng.normal(0, 1, n_hot)}
    )
    cold = pd.DataFrame(
        {
            "g": np.repeat([f"c{i}" for i in range(n_cold_keys)], rows_per_cold),
            "x": rng.normal(5, 1, n_cold_keys * rows_per_cold),
        }
    )
    return pd.concat([hot, cold], ignore_index=True)


def test_grouped_kll_hotkey_prereduce_bounds_shuffle_and_keeps_bounds(spark, monkeypatch):
    """Skew armor (VERDICT r2 item 2): a planted hot key must cross the
    exchange as ≤ input_parts partial blobs, not its raw row set, and the
    merged estimates must stay within the published rank-error bound."""
    from guava_probably_spark.operators.grouped_kll import (
        _prereduce_stage,
        grouped_kll,
    )

    pdf = _hotkey_pdf()
    df = spark.createDataFrame(pdf).repartition(8)
    narrow = df.select(F.col("g").alias("k"), F.col("x").cast("double").alias("v"))

    def make():
        return KllSketch(k=200)

    # what actually crosses the shuffle: the pre-reduced mixed stream
    mixed = narrow.mapInArrow(
        _prereduce_stage(make, max(16 * 200, 1024)),
        "k string, v double, s binary, c bigint",
    )
    hot_rows = mixed.where(F.col("k") == "hot").collect()
    assert len(hot_rows) <= 8, "hot key must ship ≤ one partial per input partition"
    assert all(r.s is not None for r in hot_rows), "hot rows must be partial blobs"
    assert sum(r.c for r in hot_rows) == 60_000
    # cold keys pass through raw (a blob per (part, key) would cost more)
    cold_raw = mixed.where(F.col("k") == "c0").collect()
    assert all(r.s is None for r in cold_raw) and len(cold_raw) == 8

    # end to end: estimates within bound, counts exact, with and without
    # the combine
    for flag in (True, False):
        _probe_says(monkeypatch, flag)
        rows = {
            r.key: (Sketch.from_bytes(r.sketch), r.n)
            for r in grouped_kll(df, "g", "x", k=200).collect()
        }
        sk, n = rows["hot"]
        assert n == 60_000
        err = sk.rank_error_bound()
        hx = np.asarray(pdf[pdf.g == "hot"].x)
        for q in (0.1, 0.5, 0.9):
            est_rank = float(np.mean(hx < sk.quantile(q)))
            assert abs(est_rank - q) <= err + 0.01
        assert rows["c0"][1] == 8


def test_grouped_tdigest_hotkey_prereduce_estimates(spark):
    from guava_probably_spark.operators import grouped_tdigest

    pdf = _hotkey_pdf(n_hot=40_000, n_cold_keys=100)
    df = spark.createDataFrame(pdf).repartition(6)
    rows = {
        r.key: (Sketch.from_bytes(r.sketch), r.n)
        for r in grouped_tdigest(df, "g", "x").collect()
    }
    sk, n = rows["hot"]
    assert n == 40_000
    hx = np.asarray(pdf[pdf.g == "hot"].x)
    for q in (0.25, 0.5, 0.75):
        est_rank = float(np.mean(hx < sk.quantile(q)))
        assert abs(est_rank - q) <= 0.02


def test_grouped_mode_hotkey_prereduce_identical_and_bounded(spark, monkeypatch):
    """grouped_mode's map-side (key, value, count) combine: result rows are
    IDENTICAL to the unreduced build (mode is count-distributive) and a hot
    key crosses the shuffle as ≤ parts × distinct_values counted rows."""
    from guava_probably_spark.operators._arrow_common import run_combine
    from guava_probably_spark.operators.grouped_mode import grouped_mode

    rng = np.random.default_rng(9)
    n_hot = 50_000
    pdf = pd.DataFrame(
        {
            "g": ["hot"] * n_hot + [f"c{i}" for i in range(300) for _ in range(4)],
            "v": [f"tool{j}" for j in rng.integers(0, 5, n_hot)]
            + [f"tool{j}" for j in rng.integers(0, 50, 1200)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)

    mixed = df.select("g", "v").mapInArrow(run_combine, "k string, v string, c bigint")
    hot_rows = mixed.where(F.col("k") == "hot").collect()
    assert len(hot_rows) <= 8 * 5  # parts × distinct values
    assert sum(r.c for r in hot_rows) == n_hot

    a = sorted(map(tuple, grouped_mode(df, "g", "v").collect()))  # hot: combined
    _probe_says(monkeypatch, False)
    b = sorted(map(tuple, grouped_mode(df, "g", "v").collect()))
    assert a == b
    hot = [t for t in a if t[0] == "hot"]
    counts = pdf[pdf.g == "hot"].v.value_counts()
    assert hot == [("hot", counts.idxmax(), int(counts.max()), n_hot)]


def test_grouped_hll_prehash_estimates_and_funnel_isolation(spark):
    """prehash=True: JVM-side xxhash64 feeds the register build directly —
    estimates within the published bound and byte-level funnel isolation
    (FUNNEL_PREHASHED blobs must refuse to merge with murmur3 blobs of the
    same column)."""
    import pyspark.sql.functions as F

    from guava_probably_spark.operators import grouped_hll
    from guava_probably_spark.sketches import Sketch
    from guava_probably_spark.sketches.base import IncompatibleSketchError

    n, keys = 60_000, 6
    pdf = pd.DataFrame(
        {
            "g": [f"k{i % keys}" for i in range(n)],
            "v": [f"value-{i % 4000}-{i % keys}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    p = 12
    bound = 3 * 1.04 / (2**p) ** 0.5
    rows = {
        r.g: (Sketch.from_bytes(r.sketch), r.n)
        for r in grouped_hll(df, "g", "v", p=p, prehash=True).collect()
    }
    assert set(rows) == set(pdf.g.unique())
    for g, sub in pdf.groupby("g"):
        sk, cnt = rows[g]
        assert cnt == len(sub)
        exact = sub.v.nunique()
        assert abs(sk.estimate() - exact) <= max(bound * exact, 3.0)
    # funnel isolation: merging with a murmur3-funnel blob must raise
    plain = {
        r.g: Sketch.from_bytes(r.sketch)
        for r in grouped_hll(df, "g", "v", p=p).collect()
    }
    with pytest.raises(IncompatibleSketchError):
        rows["k0"][0].merge(plain["k0"])
    # nulls dropped, not counted as a distinct value (xxhash64(NULL)=seed)
    ndf = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 10, "v": ["x", None] * 5})
    )
    (row,) = grouped_hll(ndf, "g", "v", p=p, prehash=True).collect()
    sk = Sketch.from_bytes(row.sketch)
    assert row.n == 5 and abs(sk.estimate() - 1.0) < 0.5


def test_grouped_quantiles_hotkey_prereduce_identical_and_bounded(spark, monkeypatch):
    """grouped_quantiles' run-length combine: results IDENTICAL to the
    unreduced build (nearest-rank over counted runs is the same order
    statistic) and a hot key crosses the shuffle as ≤ parts × distinct
    values counted rows."""
    from guava_probably_spark.operators._arrow_common import run_combine
    from guava_probably_spark.operators.grouped_quantiles import grouped_quantiles

    rng = np.random.default_rng(13)
    n_hot = 50_000
    pdf = pd.DataFrame(
        {
            "g": ["hot"] * n_hot + [f"c{i}" for i in range(200) for _ in range(6)],
            "x": np.concatenate(
                [rng.integers(0, 40, n_hot), rng.integers(0, 40, 1200)]
            ).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)

    mixed = df.select("g", F.col("x").cast("double")).mapInArrow(
        run_combine, "k string, v double, c bigint"
    )
    hot_rows = mixed.where(F.col("k") == "hot").collect()
    assert len(hot_rows) <= 8 * 40  # parts × distinct values
    assert sum(r.c for r in hot_rows) == n_hot

    _probe_says(monkeypatch, True)
    a = sorted(map(tuple, grouped_quantiles(df, "g", "x").collect()))
    _probe_says(monkeypatch, False)
    b = sorted(map(tuple, grouped_quantiles(df, "g", "x").collect()))
    assert a == b
    # nearest-rank parity with numpy on the hot key
    hot = dict(zip(("g", "n", "q25", "q50", "q75"), [t for t in a if t[0] == "hot"][0]))
    hx = np.sort(pdf[pdf.g == "hot"].x.to_numpy())
    for q, name in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75")):
        idx = min(max(int(np.ceil(q * n_hot)) - 1, 0), n_hot - 1)
        assert hot[name] == hx[idx]


def test_skew_probe_memoization(spark):
    """The sampled skew probe memoizes per (plan semanticHash, threshold):
    a second call with the same input plan must not run another Spark job."""
    gk = _arrow_common

    pdf = pd.DataFrame({"g": [f"k{i % 5}" for i in range(1000)], "x": range(1000)})
    df = spark.createDataFrame(pdf)
    narrow = df.select(F.col("g").alias("k"), F.col("x").cast("double").alias("v"))
    gk._PROBE_CACHE.clear()
    r1 = gk._skew_probe(narrow, 4096)
    assert len(gk._PROBE_CACHE) == 1
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    r2 = gk._skew_probe(narrow, 4096)
    after = tracker.getJobIdsForGroup(None)
    assert r2 == r1
    assert before == after, "memoized probe must not launch a Spark job"
    # a different threshold is a different cache entry
    gk._skew_probe(narrow, 128)
    assert len(gk._PROBE_CACHE) == 2


def test_grouped_dd_byte_identical_under_any_partitioning(spark, monkeypatch):
    """grouped_dd (per-key relative-error quantiles): DD ingest/merge are
    order-insensitive exact bucket addition, so per-key blobs must be
    byte-identical to a local build under ANY partitioning AND with or
    without the map-side combine — the grouped-HLL/CMS determinism class,
    which grouped_kll/tdigest (order-sensitive) cannot give."""
    from guava_probably_spark.operators import grouped_dd
    from guava_probably_spark.sketches.dd import DDSketch

    rng = np.random.default_rng(13)
    n = 30_000
    pdf = pd.DataFrame(
        {"g": [f"c{i % 6}" for i in range(n)], "x": np.exp(rng.normal(0, 2, n))}
    )
    local = {}
    for g, sub in pdf.groupby("g"):
        sk = DDSketch(0.01)
        sk.update(np.asarray(sub.x, dtype=float))
        local[g] = sk.to_bytes()
    for parts, flag in ((1, False), (7, False), (16, True), (16, None)):
        if flag is None:
            monkeypatch.undo()  # the real probe
        else:
            _probe_says(monkeypatch, flag)
        df = spark.createDataFrame(pdf).repartition(parts)
        rows = {
            r.key: (r.sketch, r.n)
            for r in grouped_dd(df, "g", "x", alpha=0.01).collect()
        }
        assert set(rows) == set(local)
        for g, (blob, cnt) in rows.items():
            assert cnt == (pdf.g == g).sum()
            assert blob == local[g], (parts, flag, g)


def test_grouped_dd_hotkey_prereduce_value_bound(spark, monkeypatch):
    """Skew armor carries over: a planted hot key ships ≤ one partial blob
    per input partition, and every quantile of the merged sketch is within
    α of the exact value (heavy-tailed data — the DD guarantee)."""
    from guava_probably_spark.operators import grouped_dd
    from guava_probably_spark.operators.grouped_kll import _prereduce_stage
    from guava_probably_spark.sketches.dd import DDSketch

    rng = np.random.default_rng(19)
    hot = np.exp(rng.normal(0, 3, 50_000))
    cold = rng.uniform(1, 2, 800)
    pdf = pd.DataFrame(
        {
            "g": ["hot"] * len(hot) + [f"c{i % 100}" for i in range(len(cold))],
            "x": np.concatenate([hot, cold]),
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    narrow = df.select(F.col("g").alias("k"), F.col("x").cast("double").alias("v"))
    mixed = narrow.mapInArrow(
        _prereduce_stage(lambda: DDSketch(0.01), 4096),
        "k string, v double, s binary, c bigint",
    )
    hot_rows = mixed.where(F.col("k") == "hot").collect()
    assert len(hot_rows) <= 8 and all(r.s is not None for r in hot_rows)
    assert sum(r.c for r in hot_rows) == len(hot)

    srt = np.sort(hot)
    for flag in (True, False):
        _probe_says(monkeypatch, flag)
        rows = {
            r.key: (Sketch.from_bytes(r.sketch), r.n)
            for r in grouped_dd(df, "g", "x", alpha=0.01).collect()
        }
        sk, cnt = rows["hot"]
        assert cnt == len(hot) and sk.collapses == 0
        for q in (0.1, 0.5, 0.9, 0.99, 0.999):
            est = sk.quantile(q)
            true = srt[int(q * (len(srt) - 1))]
            assert abs(est - true) <= 0.01 * abs(true) * (1 + 1e-9), (flag, q)


def test_grouped_cms_prehash_blob_identity_probe_and_isolation(spark):
    """prehash=True (JVM xxhash64, text never crosses the boundary): the
    grouped blob is BYTE-IDENTICAL to a local CmsSketch(FUNNEL_PREHASHED)
    fed the same Spark-computed hashes; estimates bracket exact counts
    through the hash probe; murmur3-funnel merges refuse; nulls are
    dropped."""
    from guava_probably_spark.operators import grouped_cms
    from guava_probably_spark.sketches.base import (
        FUNNEL_PREHASHED,
        IncompatibleSketchError,
    )

    pdf = _docs(n=8_000, keys=4, vals=250)
    df = spark.createDataFrame(pdf).repartition(5)
    eps, delta = 0.01, 0.01
    rows = {
        r.key: (Sketch.from_bytes(r.sketch), r.n)
        for r in grouped_cms(df, "g", "v", eps, delta, prehash=True).collect()
    }
    hashes = {
        g: [r.h for r in sub.collect()]
        for g, sub in (
            (g, df.where(F.col("g") == g).select(F.xxhash64("v").alias("h")))
            for g in pdf.g.unique()
        )
    }
    assert set(rows) == set(pdf.g.unique())
    for g, sub in pdf.groupby("g"):
        sk, n = rows[g]
        assert sk.funnel == FUNNEL_PREHASHED and n == len(sub)
        local = CmsSketch(eps, delta, funnel=FUNNEL_PREHASHED)
        local.update(np.array(hashes[g], dtype=np.int64))
        assert sk.to_bytes() == local.to_bytes()  # byte-identity
        # probe through the hash: exact <= est <= exact + eps*N
        counts = sub.v.value_counts()
        probe_vals = list(counts.index[:20])
        ph = {
            r.v: r.h
            for r in spark.createDataFrame(pd.DataFrame({"v": probe_vals}))
            .select("v", F.xxhash64("v").alias("h"))
            .collect()
        }
        ests = sk.estimate(np.array([ph[v] for v in probe_vals], dtype=np.int64))
        for v, est in zip(probe_vals, ests):
            assert counts[v] <= est <= counts[v] + eps * len(sub), (g, v)
    # funnel isolation
    plain = {
        r.key: Sketch.from_bytes(r.sketch)
        for r in grouped_cms(df, "g", "v", eps, delta).collect()
    }
    with pytest.raises(IncompatibleSketchError):
        rows["k0"][0].merge(plain["k0"])
    # raw values against a prehashed sketch must raise, not mis-probe
    with pytest.raises(IncompatibleSketchError):
        rows["k0"][0].estimate(["item1"])
    # nulls dropped (xxhash64(NULL) = seed must not count)
    ndf = spark.createDataFrame(pd.DataFrame({"g": ["a"] * 6, "v": ["x", None] * 3}))
    (row,) = grouped_cms(ndf, "g", "v", eps, delta, prehash=True).collect()
    assert row.n == 3


def test_grouped_theta_prehash_blob_identity_and_isolation(spark):
    """prehash=True for grouped theta: blob byte-identical to a local
    ThetaSketch(FUNNEL_PREHASHED) over the same Spark-computed hashes,
    estimates within the KMV bound, murmur3 merges refuse."""
    from guava_probably_spark.operators.grouped_theta import grouped_theta
    from guava_probably_spark.sketches.base import (
        FUNNEL_PREHASHED,
        IncompatibleSketchError,
    )
    from guava_probably_spark.sketches.theta import ThetaSketch

    pdf = _docs(n=8_000, keys=4, vals=900)
    df = spark.createDataFrame(pdf).repartition(5)
    rows = {
        r.g: (Sketch.from_bytes(r.sketch), r.n)
        for r in grouped_theta(df, "g", "v", k=256, prehash=True).collect()
    }
    assert set(rows) == set(pdf.g.unique())
    for g, sub in pdf.groupby("g"):
        sk, n = rows[g]
        assert sk.funnel == FUNNEL_PREHASHED and n == len(sub)
        hs = [
            r.h
            for r in df.where(F.col("g") == g)
            .select(F.xxhash64("v").alias("h"))
            .collect()
        ]
        local = ThetaSketch(256, funnel=FUNNEL_PREHASHED)
        local.update(np.array(hs, dtype=np.int64))
        assert sk.to_bytes() == local.to_bytes()  # byte-identity
        exact = sub.v.nunique()
        assert abs(sk.estimate() - exact) <= 3 * exact / (256 ** 0.5) + 3
    plain = {
        r.g: Sketch.from_bytes(r.sketch)
        for r in grouped_theta(df, "g", "v", k=256).collect()
    }
    with pytest.raises(IncompatibleSketchError):
        rows["k0"][0].merge(plain["k0"])


def test_grouped_req_relative_tail_both_phases(spark, monkeypatch):
    """grouped_req on the shared kernel: per-key extreme-tail ranks within
    the RELATIVE bound (eps*(1-q)) — exercised through BOTH the
    single-phase build and the forced map-side partial path (REQ
    partials are mergeable)."""
    rng = np.random.default_rng(23)
    n = 60_000
    pdf = pd.DataFrame(
        {"g": [f"c{i % 4}" for i in range(n)], "x": np.exp(rng.normal(0, 1.5, n))}
    )
    df = spark.createDataFrame(pdf).repartition(5)
    from guava_probably_spark.operators import grouped_req

    for phase in (False, True):
        _probe_says(monkeypatch, phase)
        rows = {
            r.key: (Sketch.from_bytes(r.sketch), r.n)
            for r in grouped_req(df, "g", "x", k=32).collect()
        }
        assert len(rows) == 4
        for g, sub in pdf.groupby("g"):
            sk, cnt = rows[g]
            assert cnt == len(sub)
            xs = np.sort(np.asarray(sub.x))
            m = len(xs)
            eps = sk.relative_rank_error_bound()
            for q in (0.9, 0.99, 0.999):
                v = float(sk.quantile(q))
                lo = float(np.mean(xs < v))
                hi = float(np.mean(xs <= v))
                err = max(0.0, lo - q, q - hi)
                assert err <= eps * (1 - q + 1.0 / m), (g, q, phase)


def test_grouped_quantiles_fractional_percent_names(spark):
    """Output columns come from one naming helper: whole percents keep
    ``q50``, fractional ones become ``q99_9`` (they used to round into
    ``q100`` and collide with the maximum), and quantiles that would share
    a name raise up front instead of failing in a task."""
    from guava_probably_spark.operators.grouped_quantiles import (
        grouped_quantiles,
        quantile_trim,
    )

    df = spark.range(2_000).select(
        (F.col("id") % 2).alias("g"), F.col("id").cast("double").alias("x")
    )
    out = grouped_quantiles(df, "g", "x", qs=(0.5, 0.999))
    assert out.columns == ["g", "n", "q50", "q99_9"]
    rows = {r.g: r for r in out.collect()}
    assert (rows[0].q50, rows[0].q99_9) == (998.0, 1996.0)  # max is 1998.0
    got = {r.g: tuple(r)[2:] for r in grouped_quantiles(df, "g", "x", qs=(0.99, 0.999, 1.0)).collect()}
    assert got == {0: (1978.0, 1996.0, 1998.0), 1: (1979.0, 1997.0, 1999.0)}
    with pytest.raises(ValueError, match="q50"):
        grouped_quantiles(df, "g", "x", qs=(0.5, 0.5))
    # quantile_trim names its threshold with the same helper
    kept = quantile_trim(df, "g", "x", q=0.999, keep="above").orderBy("x").collect()
    assert [r.x for r in kept] == [1998.0, 1999.0]  # above p99.9 (1996, 1997)
