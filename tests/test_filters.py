"""Bloom + cuckoo filter semantics — the CuckooFilterTest/BloomFilterTest
suite re-expressed (BASELINE.json:6; SURVEY.md §5.1): zero false negatives,
observed FPP ≤ bound + 3σ, saturation returns False (with rollback), remove
semantics, geometry math vs published formulas, semi-sort round-trip.
"""

import math

import numpy as np
import pytest

from guava_probably_spark.sketches import (
    BloomSketch,
    CuckooSketch,
    bloom_geometry,
    cuckoo_geometry,
)
from guava_probably_spark.sketches.base import FUNNEL_LONG, FUNNEL_UTF8, Sketch

FPP_GRID = [0.03, 0.01, 0.001]


def _members_nonmembers(n=20000, seed=3):
    rng = np.random.default_rng(seed)
    members = rng.choice(10**10, n, replace=False)
    non = members + 10**10  # disjoint by construction
    return members, non


@pytest.mark.parametrize("fpp", FPP_GRID)
@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_zero_false_negatives_and_fpp_bound(kind, fpp):
    members, non = _members_nonmembers()
    cls = BloomSketch if kind == "bloom" else CuckooSketch
    sk = cls(len(members), fpp, funnel=FUNNEL_LONG)
    res = sk.update(members)
    assert res.all(), f"{kind} insert failures below capacity"
    # HARD requirement: zero false negatives (BASELINE.md)
    assert sk.might_contain_batch(members).all()
    # observed FPP ≤ fpp + 3σ
    fpr = sk.might_contain_batch(non).mean()
    sigma = math.sqrt(fpp * (1 - fpp) / len(non))
    assert fpr <= fpp + 3 * sigma, f"{kind} fpr {fpr} > {fpp} + 3σ"
    assert sk.expected_fpp() <= fpp * 1.5 + 3 * sigma


def test_bloom_geometry_formulas():
    m, k = bloom_geometry(10000, 0.01)
    # published: m = -n ln p / ln^2 2 ≈ 9.585 n;  k = m/n ln2 ≈ 6.64
    assert abs(m - 9.585 * 10000) < 100
    assert k == 7


def test_cuckoo_geometry_formulas():
    m, b, f = cuckoo_geometry(10000, 0.01)
    assert b == 4
    assert f == math.ceil(math.log2(2 * 4 / 0.01))  # 10 bits
    assert m == math.ceil(10000 / (0.955 * 4))


def test_bloom_put_returns_bits_changed():
    sk = BloomSketch(100, 0.01)
    assert sk.put("alpha") is True
    assert sk.put("alpha") is False  # already present → no bits changed
    assert sk.might_contain("alpha")
    assert not sk.might_contain("beta-definitely-absent")


def test_bloom_remove_unsupported():
    sk = BloomSketch(100, 0.01)
    with pytest.raises(NotImplementedError):
        sk.remove("x")


def test_cuckoo_remove_only_removes_added():
    members, _ = _members_nonmembers(5000)
    sk = CuckooSketch(5000, 0.01, funnel=FUNNEL_LONG)
    assert sk.update(members).all()
    evens = members[::2]
    odds = members[1::2]
    from guava_probably_spark.sketches.hashing import hash128_u64

    removed = sk.remove_hashes(*hash128_u64(evens))
    assert removed.all()
    assert sk.size == len(odds)
    # zero false negatives preserved for everything NOT removed
    assert sk.might_contain_batch(odds).all()


def test_cuckoo_remove_absent_returns_false_mostly():
    sk = CuckooSketch(1000, 0.001, funnel=FUNNEL_LONG)
    sk.update(np.arange(100, dtype=np.int64))
    # removing never-added elements: almost surely not found at fpp=0.001
    from guava_probably_spark.sketches.hashing import hash128_u64

    found = sk.remove_hashes(*hash128_u64(np.arange(10**6, 10**6 + 200, dtype=np.int64)))
    assert found.sum() <= 2  # FP-rate-level collisions only


def test_cuckoo_saturation_put_returns_false_and_rolls_back():
    sk = CuckooSketch(100, 0.03, funnel=FUNNEL_LONG)
    rng = np.random.default_rng(9)
    vals = rng.choice(10**9, 5000, replace=False)
    res = sk.update(vals)
    assert not res.all(), "expected saturation past capacity"
    inserted = vals[res]
    # every successfully-put element still has zero false negatives —
    # failed puts rolled back their kick chains (SURVEY.md §2 row 2)
    assert sk.might_contain_batch(inserted).all()


def test_cuckoo_semisort_roundtrip_preserves_contents():
    members, _ = _members_nonmembers(8000)
    sk = CuckooSketch(8000, 0.01, funnel=FUNNEL_LONG)  # f=10 → semi-sort active
    assert sk._semisort_active()
    sk.update(members)
    blob = sk.to_bytes()
    sk2 = Sketch.from_bytes(blob)
    assert sk2.size == sk.size
    assert sk2.might_contain_batch(members).all()
    # semi-sort blob is smaller than raw packing would be
    raw_bytes = sk.table.nbytes
    payload = len(blob)
    assert payload < raw_bytes


def test_cuckoo_merge_overflow_reported():
    a = CuckooSketch(1000, 0.01, funnel=FUNNEL_LONG)
    b = CuckooSketch(1000, 0.01, funnel=FUNNEL_LONG)
    rng = np.random.default_rng(10)
    a.update(rng.choice(10**9, 950, replace=False))
    b.update(rng.choice(10**9, 950, replace=False) + 10**10)
    ok, overflow = a.merge_counted(b)
    assert not ok and overflow > 0  # combined load 1.9× capacity must overflow


def test_string_funnel_and_long_funnel_incompatible():
    a = BloomSketch(100, 0.01, funnel=FUNNEL_UTF8)
    b = BloomSketch(100, 0.01, funnel=FUNNEL_LONG)
    assert not a.is_compatible(b)


def test_unicode_membership():
    sk = BloomSketch(100, 0.001)
    items = ["héllo", "wörld", "漢字テスト", "🎉🎊", "plain"]
    for it in items:
        sk.put(it)
    for it in items:
        assert sk.might_contain(it)


def test_cuckoo_hot_key_duplicates_fast_and_no_false_negatives():
    """Power-law keys: the 9th+ copy of one key can never fit (a pair holds
    2b copies) and must FAIL FAST — interlinked duplicate-saturated pairs
    used to trap the kick walk for MAX_KICKS per insert (regression:
    skewed 800k-row merge measured 323 s, now sub-second)."""
    import time

    sk = CuckooSketch(capacity=200_000, fpp=0.01)
    keys = [f"hot-{i:04d}" for i in range(50)]
    t0 = time.monotonic()
    for _ in range(200):  # 200 copies of each of 50 hot keys
        for k in keys:
            sk.put(k)
    elapsed = time.monotonic() - t0
    # generous wall budget: the regression measured 323 s for far fewer
    # inserts, the fix runs in well under a second — 10 s only fails on a
    # true re-entry of the futile kick walk, not scheduler noise
    assert elapsed < 10.0, f"duplicate-heavy insert took {elapsed:.1f}s"
    # zero false negatives: every key was successfully inserted >= once
    assert sk.contains_all(keys)
    # the duplicate cap held: a pair stores at most 2b copies of one fp
    from guava_probably_spark.sketches.base import element_to_hash

    for k in keys:
        _, h1, h2 = element_to_hash(k)
        i1, fp = sk._index_fp(np.array([h1], np.uint64), np.array([h2], np.uint64))
        i2 = sk._alt(i1.astype(np.uint64), fp).astype(np.int64)
        copies = int((sk.table[i1[0]] == fp[0]).sum() + (sk.table[i2[0]] == fp[0]).sum())
        assert copies <= 2 * sk.b


def test_cuckoo_merge_duplicate_saturated_partials_fast():
    """Merging partials that each carry duplicate copies of hot keys must
    not re-enter the futile kick walk (the distributed build's driver-side
    tree merge hits exactly this shape)."""
    import time

    parts = []
    for p in range(4):
        sk = CuckooSketch(capacity=200_000, fpp=0.01)
        for _ in range(20):
            sk.put_all([f"hot-{i:04d}" for i in range(50)])
        sk.put_all([f"part{p}-{i}" for i in range(1000)])
        parts.append(sk)
    acc = parts[0]
    t0 = time.monotonic()
    for p in parts[1:]:
        acc.merge_counted(p)
    assert time.monotonic() - t0 < 5.0
    assert acc.contains_all([f"hot-{i:04d}" for i in range(50)])
    for p in range(4):
        assert acc.contains_all([f"part{p}-{i}" for i in range(1000)])


def test_cuckoo_merge_dedup_false_preserves_put_remove_symmetry():
    """Delete workflows: N puts across merged filters must survive N−1
    removes — only the multiset merge (dedup=False) guarantees that; the
    default set-union merge collapses copies and documents the trade."""
    a = CuckooSketch(capacity=10_000, fpp=0.01)
    b = CuckooSketch(capacity=10_000, fpp=0.01)
    a.put("x")
    b.put("x")

    multiset = a.copy()
    multiset.merge(b, dedup=False)
    assert multiset.remove("x")
    assert multiset.might_contain("x")  # second copy survives
    assert multiset.remove("x")
    assert not multiset.might_contain("x")

    setunion = a.copy()
    setunion.merge(b)  # default dedup=True
    assert setunion.remove("x")
    assert not setunion.might_contain("x")  # one copy total


def test_cuckoo_distributed_build_set_semantics_no_false_negatives():
    """ingest_hashes/merge take set semantics: duplicate copies are not
    accumulated, so hot keys cannot saturate their pair and wall off cold
    neighbors (regression: 47/79k cold-key FALSE NEGATIVES on a skewed
    800k-turn build with multiset ingest)."""
    from guava_probably_spark.sketches.base import hash_column

    rng = np.random.default_rng(11)
    # skewed multiset: 50 hot keys x 500 copies + 20k cold keys
    hot = np.repeat(rng.choice(10**9, 50, replace=False), 500)
    cold = rng.choice(10**9, 20000, replace=False) + 2 * 10**9
    partials = []
    for part in range(4):
        sk = CuckooSketch(60000, 0.01, funnel=FUNNEL_LONG)
        keys = np.concatenate([hot, cold[part::4]])
        rng.shuffle(keys)
        _, h1, h2 = hash_column(keys, FUNNEL_LONG)
        for s in range(0, len(h1), 4096):
            sk.ingest_hashes(h1[s : s + 4096], h2[s : s + 4096])
        partials.append(sk)
    acc = partials[0]
    for p in partials[1:]:
        ok, overflow = acc.merge_counted(p)
        assert ok and overflow == 0
    # every DISTINCT hot key (hot is 500 consecutive copies per key, so a
    # prefix slice would probe only key #0 and mask a 49-key regression)
    assert acc.might_contain_batch(np.unique(hot)).all()
    assert acc.might_contain_batch(cold).all()
    # set semantics: one slot per distinct (pair, fingerprint) — at most one
    # per distinct key, minus the occasional two-keys-one-fingerprint
    # collision (that collision rate IS the filter's fpp)
    n_distinct = len(set(hot.tolist())) + len(cold)
    assert acc.size <= n_distinct
    assert acc.size >= n_distinct * 0.99


def test_cuckoo_multiset_flag_survives_serialization_and_default_merge():
    """A multiset filter (dedup_build=False) that round-trips through
    to_bytes/from_bytes must keep multiset merge semantics under the
    DEFAULT merge() — otherwise a delete-workflow filter restored from a
    checkpoint silently collapses duplicate copies and a later remove()
    yields false negatives (ADVICE r2)."""
    a = CuckooSketch(capacity=10_000, fpp=0.01, dedup_build=False)
    b = CuckooSketch(capacity=10_000, fpp=0.01, dedup_build=False)
    a.put("x")
    b.put("x")

    a2 = Sketch.from_bytes(a.to_bytes())
    b2 = Sketch.from_bytes(b.to_bytes())
    assert a2.dedup_build is False and b2.dedup_build is False

    a2.merge(b2)  # default must resolve to multiset (dedup=False)
    assert a2.remove("x")
    assert a2.might_contain("x")  # second copy survives the round trip
    assert a2.remove("x")
    assert not a2.might_contain("x")

    # set-union filters keep set semantics through the same round trip
    s = CuckooSketch(capacity=10_000, fpp=0.01)
    s.put("x")
    s2 = Sketch.from_bytes(s.to_bytes())
    assert s2.dedup_build is True
    s2.merge(Sketch.from_bytes(s.to_bytes()))
    assert s2.remove("x")
    assert not s2.might_contain("x")


def test_hash_column_typed_empty_batch_still_checks_funnel():
    """A zero-row TYPED batch carries funnel information: probing an empty
    string column against a FUNNEL_LONG sketch must raise immediately, not
    only once data arrives (ADVICE r2). All-null/untyped batches still
    bypass the check (no funnel information)."""
    import pyarrow as pa

    from guava_probably_spark.sketches.base import (
        IncompatibleSketchError,
        hash_column,
    )

    with pytest.raises(IncompatibleSketchError):
        hash_column(pa.array([], type=pa.string()), FUNNEL_LONG)
    with pytest.raises(IncompatibleSketchError):
        hash_column(pa.array([], type=pa.int64()), FUNNEL_UTF8)
    # null-typed batches carry no funnel information: no-op, no raise
    f, h1, h2 = hash_column(pa.array([None, None]), FUNNEL_LONG)
    assert f == FUNNEL_LONG and len(h1) == 0 and len(h2) == 0
    f, h1, h2 = hash_column([], FUNNEL_UTF8)
    assert f == FUNNEL_UTF8 and len(h1) == 0


def test_sort_dedup_key_hash_empty_input():
    """Zero-length input (a partition fed only empty Arrow batches) returns
    empty arrays instead of raising IndexError (ADVICE r2)."""
    from guava_probably_spark.operators._arrow_common import sort_dedup_key_hash

    idx, sc, sh, cnt = sort_dedup_key_hash(
        np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint64)
    )
    assert len(idx) == len(sc) == len(sh) == len(cnt) == 0


def test_sketch_cache_keys_by_blob_bytes_not_hash():
    """Two distinct same-length blobs whose hashes collide must decode to
    their own filters, not share one cache entry."""
    import pyarrow as pa

    from guava_probably_spark import functions as gf

    class Colliding(bytes):
        def __hash__(self):
            return 7

    blobs = []
    for member in ("alpha", "omega"):
        sk = BloomSketch(1000, 0.01)
        sk.update(pa.array([member]))
        blobs.append(Colliding(sk.to_bytes()))
    assert len(blobs[0]) == len(blobs[1]) and blobs[0] != blobs[1]
    gf._SKETCH_CACHE.clear()
    gf._SKETCH_CACHE_BYTES = 0
    try:
        for blob, member in zip(blobs, ("alpha", "omega")):
            assert gf._cached_sketch(blob).might_contain(member)
        assert gf._SKETCH_CACHE_BYTES == 2 * sum(map(len, blobs))
    finally:
        gf._SKETCH_CACHE.clear()
        gf._SKETCH_CACHE_BYTES = 0


def test_sketch_cache_holds_64_shards_without_redecoding(monkeypatch):
    """A frozen filter's 64 shards fit the byte cap, so two passes over
    them decode each blob once (a 16-entry count cap missed every lookup:
    128 decodes)."""
    import pyarrow as pa

    from guava_probably_spark import functions as gf
    from guava_probably_spark.sketches import Sketch

    blobs = []
    for shard in range(64):
        sk = BloomSketch(1000, 0.01)
        sk.update(pa.array([f"m{shard}"]))
        blobs.append(sk.to_bytes())
    decodes = []
    real = Sketch.from_bytes
    monkeypatch.setattr(gf.Sketch, "from_bytes", lambda b: decodes.append(1) or real(b))
    gf._SKETCH_CACHE.clear()
    gf._SKETCH_CACHE_BYTES = 0
    try:
        for _ in range(2):
            for shard, blob in enumerate(blobs):
                assert gf._cached_sketch(blob).might_contain(f"m{shard}")
        assert len(decodes) == 64
    finally:
        gf._SKETCH_CACHE.clear()
        gf._SKETCH_CACHE_BYTES = 0
