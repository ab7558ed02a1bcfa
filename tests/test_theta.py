"""Theta/KMV sketch (sketches/theta.py): bounded distinct + set-op estimates.

Determinism class: the retained set is exactly the k smallest distinct item
hashes of the stream — merge-order- and partitioning-independent, so blobs
are byte-equal like bloom/HLL/CMS. Below saturation (n ≤ k) every estimate
is EXACT.
"""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from guava_probably_spark.sketches import Sketch, SketchSpec, ThetaSketch
from guava_probably_spark.sketches.base import IncompatibleSketchError

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _items(lo, hi):
    return np.array([f"item_{i}" for i in range(lo, hi)], dtype=object)


def test_theta_error_bound_saturated():
    n, k = 50_000, 4096
    sk = ThetaSketch(k=k)
    for s in range(0, n, 8192):
        sk.update(_items(s, min(s + 8192, n)))
    assert abs(sk.estimate() - n) / n <= sk.relative_error_bound()  # 3/√(k−1)


def test_theta_exact_below_saturation():
    sk = ThetaSketch(k=1024)
    sk.update(_items(0, 500))
    sk.update(_items(200, 600))  # overlap — distinct count must dedupe
    assert sk.estimate() == 600.0


def test_theta_merge_blob_byte_equal_across_orders():
    parts = [_items(i * 2000, (i + 1) * 2000 + 500) for i in range(3)]  # overlaps
    sks = []
    for part in parts:
        s = ThetaSketch(k=256)
        s.update(part)
        sks.append(s)
    left = sks[0].copy().merge(sks[1].copy()).merge(sks[2].copy())
    right = sks[0].copy().merge(sks[1].copy().merge(sks[2].copy()))
    direct = ThetaSketch(k=256)
    direct.update(np.concatenate(parts))
    assert left.to_bytes() == right.to_bytes() == direct.to_bytes()


def test_theta_setops_bounded():
    n, overlap, k = 40_000, 10_000, 4096
    a, b = ThetaSketch(k=k), ThetaSketch(k=k)
    a.update(_items(0, n))
    b.update(_items(n - overlap, 2 * n - overlap))
    rel = 3 / (k - 1) ** 0.5
    assert abs(a.union_estimate(b) - (2 * n - overlap)) <= rel * (2 * n - overlap)
    # intersection: sample-hit error ~ 1/√hits; hits ≈ k·overlap/union
    hits = k * overlap / (2 * n - overlap)
    i_bound = 3 / hits ** 0.5 * overlap + 3
    assert abs(a.intersect_estimate(b) - overlap) <= i_bound
    assert abs(a.difference_estimate(b) - (n - overlap)) <= i_bound + rel * n


@pytest.mark.parametrize("k1,k2", [(4096, 256), (1024, 1023), (512, 16)])
def test_theta_fold_byte_identical_to_direct_build(k1, k2):
    """fold_to is EXACT: the k₂ smallest of the k₁ smallest distinct hashes
    are the k₂ smallest of the stream, so the folded blob equals a direct
    k₂ build byte-for-byte (saturated and unsaturated inputs)."""
    from guava_probably_spark.sketches.base import FUNNEL_LONG

    rng = np.random.default_rng(k1 + k2)
    for n in (max(2, k2 // 2), 50_000):  # below and above saturation
        vals = rng.integers(0, 2**62, size=n)
        hi = ThetaSketch(k=k1, funnel=FUNNEL_LONG)
        hi.update(vals)
        lo = ThetaSketch(k=k2, funnel=FUNNEL_LONG)
        lo.update(vals)
        assert hi.fold_to(k2).to_bytes() == lo.to_bytes(), n


def test_theta_fold_enables_mixed_k_merge():
    from guava_probably_spark.sketches.base import FUNNEL_LONG

    rng = np.random.default_rng(5)
    vals = rng.integers(0, 2**62, size=60_000)
    fine = ThetaSketch(k=16384, funnel=FUNNEL_LONG)
    fine.update(vals[:30_000])
    coarse = ThetaSketch(k=4096, funnel=FUNNEL_LONG)
    coarse.update(vals[30_000:])
    assert not fine.is_compatible(coarse)
    merged = fine.fold_to(4096).merge(coarse)
    direct = ThetaSketch(k=4096, funnel=FUNNEL_LONG)
    direct.update(vals)
    assert merged.to_bytes() == direct.to_bytes()
    with pytest.raises(ValueError):
        coarse.fold_to(16384)


def test_theta_serialization_and_incompatible():
    sk = ThetaSketch(k=64)
    sk.update(_items(0, 1000))
    rt = Sketch.from_bytes(sk.to_bytes())
    assert isinstance(rt, ThetaSketch)
    assert rt.to_bytes() == sk.to_bytes()
    with pytest.raises(IncompatibleSketchError):
        ThetaSketch(k=64).merge(ThetaSketch(k=128))


def test_theta_distributed_partition_invariant(spark):
    from guava_probably_spark.operators import collect_sketch

    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    spec = SketchSpec("theta", {"k": 4096})
    a, _, _ = collect_sketch(events, "user_id", spec)
    b, _, _ = collect_sketch(events.repartition(13), "user_id", spec)
    assert a.to_bytes() == b.to_bytes()  # byte-equal across partitionings
    exact = events.select(F.countDistinct("user_id").alias("c")).collect()[0].c
    assert a.estimate() == float(exact)  # below saturation → exact


def test_grouped_theta_blobs_byte_identical_and_retention(spark):
    """operators.grouped_theta: per-key blobs byte-identical to local
    ThetaSketch builds; cross-key intersect (retention) exact below
    saturation."""
    import os as _os

    from pyspark.sql import functions as F

    from guava_probably_spark.operators import grouped_theta

    events = spark.read.parquet(_os.path.join(SF_DIR, "events.parquet"))
    g = grouped_theta(events, "event_type", "user_id", k=4096)
    rows = {r.event_type: (r.sketch, r.n) for r in g.collect()}
    pdf = events.select("event_type", "user_id").toPandas()
    for etype, (blob, n) in rows.items():
        sub = pdf[pdf.event_type == etype]["user_id"]
        ref = ThetaSketch(k=4096, funnel=2)
        ref.update(np.asarray(sub, dtype=np.int64))
        assert blob == ref.to_bytes()
        assert n == len(sub)
    # retention: users in BOTH of two event types, exact below saturation
    types = sorted(rows)[:2]
    a = Sketch.from_bytes(rows[types[0]][0])
    b = Sketch.from_bytes(rows[types[1]][0])
    exact = (
        events.filter(F.col("event_type") == types[0])
        .select("user_id")
        .intersect(
            events.filter(F.col("event_type") == types[1]).select("user_id")
        )
        .count()
    )
    assert a.intersect_estimate(b) == float(exact)


def test_grouped_theta_saturated_keeps_k_smallest(spark):
    """Above saturation the per-key retained set is the k smallest distinct
    hashes — byte-identical to the local build and within the error bound."""
    import pandas as pd

    from guava_probably_spark.operators import grouped_theta

    n = 30_000
    pdf = pd.DataFrame({"g": ["x"] * n, "v": [f"u{i}" for i in range(n)]})
    df = spark.createDataFrame(pdf).repartition(5)
    row = grouped_theta(df, "g", "v", k=512).collect()[0]
    ref = ThetaSketch(k=512, funnel=1)
    ref.update(np.array([f"u{i}" for i in range(n)], dtype=object))
    assert row.sketch == ref.to_bytes()
    got = Sketch.from_bytes(row.sketch)
    assert abs(got.estimate() - n) / n <= got.relative_error_bound()


def test_theta_merge_empty_into_saturated_keeps_saturation():
    """ADVICE r1 regression: the trim bound must be carried as an exact
    uint64. The old float64 path (int(theta*2^64)) rounded below the k-th
    retained hash ~50% of the time once hashes exceed 2^53, dropping the
    boundary hash on merge — a saturated sketch merged with an EMPTY one
    desaturated (len < k) and estimate() collapsed to ~k 'exact' values."""
    k, n = 64, 5_000
    sat = ThetaSketch(k=k)
    sat.update(_items(0, n))
    before = sat.estimate()
    assert len(sat.hashes) == k
    for _ in range(50):  # old bug fired with ~50% probability per merge
        sat.merge(ThetaSketch(k=k))
        assert len(sat.hashes) == k, "merge with empty desaturated the sketch"
        assert sat.estimate() == before
    # same invariant through intersect/difference trims: all k retained
    # hashes must survive the exact-bound trim (hits/θ estimator → k/θ)
    assert sat.intersect_estimate(sat.copy()) == pytest.approx(
        k / sat.theta, rel=1e-12
    )
    assert sat.difference_estimate(sat.copy()) == 0.0


def test_theta_bound_is_exact_integer():
    """_theta_bound returns the k-th hash exactly (no float rounding) and
    2^64 in exact mode."""
    sk = ThetaSketch(k=16)
    assert sk._theta_bound() == 1 << 64
    sk.update(_items(0, 1000))
    assert sk._theta_bound() == int(sk.hashes[-1])
    # boundary hash survives a self-merge byte-exactly
    blob = sk.to_bytes()
    assert sk.copy().merge(sk.copy()).to_bytes() == blob


def test_grouped_theta_compressed_regime_blob_identical(spark):
    """ADVICE r1 regression: for saturated keys with k > 8192 (payload above
    Sketch._COMPRESS_THRESHOLD) the grouped packer must emit the SAME
    zlib-compressed blob a local ThetaSketch.to_bytes() produces."""
    import pandas as pd

    from guava_probably_spark.operators import grouped_theta

    k, n = 16_384, 40_000  # payload 128 KiB > 64 KiB threshold when saturated
    vals = [f"u{i}" for i in range(n)]
    pdf = pd.DataFrame(
        {"g": ["big"] * n + ["small"] * 10, "v": vals + vals[:10]}
    )
    rows = {
        r.g: r.sketch
        for r in grouped_theta(
            spark.createDataFrame(pdf).repartition(4), "g", "v", k=k
        ).collect()
    }
    big_ref = ThetaSketch(k=k, funnel=1)
    big_ref.update(np.array(vals, dtype=object))
    small_ref = ThetaSketch(k=k, funnel=1)
    small_ref.update(np.array(vals[:10], dtype=object))
    assert rows["big"] == big_ref.to_bytes()  # comp=1 path
    assert rows["small"] == small_ref.to_bytes()  # comp=0 path, same batch
    assert Sketch.from_bytes(rows["big"]).estimate() == big_ref.estimate()


def test_grouped_theta_prereduce_blob_identical(spark, monkeypatch):
    """Map-side KMV combine must not change output blobs or counts: the
    retained-set union is associative, so the combined build is
    byte-identical to the unreduced one across partitionings, including
    duplicates."""
    import pandas as pd

    from guava_probably_spark.operators import _arrow_common, grouped_theta

    n = 20_000
    pdf = pd.DataFrame(
        {
            "g": [f"d{i % 3}" for i in range(n)],
            "v": [f"u{i % 700}" for i in range(n)],  # heavy duplication per key
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)

    def build(combine):  # pin the grouped driver's skew-probe verdict
        monkeypatch.setattr(_arrow_common, "_skew_probe", lambda rows, t: combine)
        return {r.g: (r.sketch, r.n) for r in grouped_theta(df, "g", "v", k=256).collect()}

    a, b = build(True), build(False)
    assert a == b
    for g, (blob, cnt) in a.items():
        ref = ThetaSketch(k=256, funnel=1)
        ref.update(np.array([f"u{i % 700}" for i in range(n) if f"d{i % 3}" == g], dtype=object))
        assert blob == ref.to_bytes()
        assert cnt == sum(1 for i in range(n) if f"d{i % 3}" == g)


def test_grouped_theta_stages_tolerate_zero_row_batches():
    """A partition that receives only zero-row Arrow batches (possible after
    a selective upstream filter) must yield nothing rather than raise
    IndexError in the lexsort/dedup kernels (ADVICE r2)."""
    import pyarrow as pa

    from guava_probably_spark.operators.grouped_theta import (
        _build_stage,
        _prereduce_stage,
    )
    from guava_probably_spark.sketches.base import FUNNEL_UTF8

    empty_raw = pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.string()), pa.array([], type=pa.string())],
        names=["k", "v"],
    )
    assert list(_prereduce_stage(64)(iter([empty_raw]))) == []

    empty_mid = pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.string()), pa.array([], type=pa.int64())],
        names=["k", "h"],
    )
    assert list(_build_stage(64, FUNNEL_UTF8)(iter([empty_mid]))) == []
    assert list(_build_stage(64, FUNNEL_UTF8)(iter([]))) == []
