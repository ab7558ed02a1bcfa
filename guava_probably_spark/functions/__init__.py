"""Pandas UDFs over sketches + SQL registration.

Probe-side surface (SURVEY.md §2 row 5): a built sketch blob is broadcast and
probed with an Arrow-vectorized scalar pandas UDF — the approximate semi-join
/ membership predicate.  Estimate UDFs map a `sketch binary` column (one row
per group, from operators.build_grouped) to estimates; per-row Python there
is per-GROUP, not per-element.

All UDFs are created lazily via factories (module-level @pandas_udf would
need an active SparkSession at import time and break on executors that
import this package while unpickling closures).
"""

from __future__ import annotations

import functools

import pandas as pd
import pyarrow as pa

from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, LongType

from ..sketches import Sketch

# worker-side cache: deserializing a blob per Arrow batch would dominate for
# large filters. Keyed by the blob bytes themselves: a hash-only key would
# hand a colliding same-length blob the wrong sketch; equal hashes fall back
# to a byte compare. An entry holds the key blob AND the decoded sketch (a
# copy of the payload), so it counts 2 × len(blob) against the byte cap.
_SKETCH_CACHE: dict[bytes, Sketch] = {}
_SKETCH_CACHE_BYTES = 0
# per python worker; a 91 MB filter blob × 16 count-capped entries was a
# potential 1.5 GB per worker × 32 workers — cap the BYTES, not the count
# (a count cap also missed on every lookup once a frozen filter had more
# shards than the cap)
_SKETCH_CACHE_MAX_BYTES = 256 * 1024 * 1024


def _cached_sketch(blob: bytes) -> Sketch:
    global _SKETCH_CACHE_BYTES
    sk = _SKETCH_CACHE.get(blob)
    if sk is None:
        # evict OLDEST-FIRST only until this blob fits (dict preserves
        # insertion order) — clearing everything would thrash when two
        # large filters alternate in one worker: each miss would evict the
        # other live filter and every batch would re-pay its full decode
        while (
            _SKETCH_CACHE
            and _SKETCH_CACHE_BYTES + 2 * len(blob) > _SKETCH_CACHE_MAX_BYTES
        ):
            old = next(iter(_SKETCH_CACHE))
            _SKETCH_CACHE.pop(old)
            _SKETCH_CACHE_BYTES -= 2 * len(old)
        sk = Sketch.from_bytes(blob)
        _SKETCH_CACHE[blob] = sk
        _SKETCH_CACHE_BYTES += 2 * len(blob)
    return sk


def _blob_groups(blobs: pd.Series):
    """(blob bytes, row mask) per distinct non-null blob of a batch: one
    ``pd.factorize`` over the column (NULL → −1, skipped), not a byte
    compare of every row against every distinct blob."""
    codes, uniq = pd.factorize(blobs)
    for code, blob in enumerate(uniq):
        yield bytes(blob), codes == code


def _coerce_for_funnel(arr: pa.Array, sk: Sketch) -> pa.Array:
    """pandas represents a nullable int column as float64(NaN) — restore the
    integer type for LONG-funnel sketches before hashing.

    The float64 round trip is only lossless below 2^53: a nullable column
    of full-range 64-bit keys (e.g. xxhash64 grams) would silently hash to
    the WRONG values after this cast — every probe a coin flip.  That is
    corruption, not degradation, so it raises; the caller-side fix is to
    keep nulls out of the probed batch (`coalesce(key, lit(0))` + mask the
    result on the null rows, as the library's own operators do)."""
    from ..sketches.base import FUNNEL_LONG

    if getattr(sk, "funnel", None) == FUNNEL_LONG and pa.types.is_floating(arr.type):
        import pyarrow.compute as pc

        limit = float(1 << 53)
        unsafe = pc.any(pc.greater(pc.abs(arr.cast(pa.float64())), limit)).as_py()
        if unsafe:
            raise ValueError(
                "nullable int64 probe batch came through pandas as float64 "
                "and holds values beyond 2^53 — the cast back would corrupt "
                "them. Probe with coalesce(key, lit(0)) and mask null rows "
                "instead of probing a nullable full-range key column."
            )
        return arr.cast(pa.int64())
    return arr


def _expand_nulls(arr: pa.Array, out, fill):
    """Re-expand a null-dropped result over the original positions."""
    import numpy as np

    if not arr.null_count:
        return pd.Series(out)
    full = np.full(len(arr), fill, dtype=np.asarray(out).dtype)
    full[~arr.is_null().to_numpy(zero_copy_only=False)] = out
    return pd.Series(full)


def might_contain_udf_from_broadcast(bc):
    """Membership probe over an EXISTING broadcast handle — for callers that
    must manage the broadcast lifetime themselves (a per-micro-batch probe
    that never unpersists its broadcast pins one blob copy per batch on the
    executors forever)."""

    @pandas_udf(BooleanType())
    def probe(values: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc.value)
        arr = _coerce_for_funnel(pa.Array.from_pandas(values), sk)
        return _expand_nulls(arr, sk.might_contain_batch(arr), False)

    return probe


def might_contain_udf(spark: SparkSession, blob: bytes):
    """Vectorized membership probe against a broadcast filter blob.

    Usage: df.filter(might_contain_udf(spark, bloom.to_bytes())(F.col("k")))
    """
    return might_contain_udf_from_broadcast(spark.sparkContext.broadcast(blob))


def cms_freq_udf(spark: SparkSession, blob: bytes):
    """Vectorized point-frequency estimate against a broadcast CMS blob."""
    bc = spark.sparkContext.broadcast(blob)

    @pandas_udf(LongType())
    def freq(values: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc.value)
        arr = _coerce_for_funnel(pa.Array.from_pandas(values), sk)
        return _expand_nulls(arr, sk.estimate(arr), 0)

    return freq


# -- estimate UDFs over `sketch binary` columns (one row per group) ----------

@functools.cache
def hll_estimate():
    @pandas_udf(DoubleType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([Sketch.from_bytes(b).estimate() for b in blobs])

    return f


@functools.cache
def hll_cardinality():
    @pandas_udf(LongType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([Sketch.from_bytes(b).cardinality() for b in blobs])

    return f


@functools.cache
def hll_fold(p: int):
    """Fold HLL blobs to a coarser precision p (EXACT — byte-identical to a
    direct build at p; see HllSketch.fold_to). Lets sketch tables built at
    different precisions merge: fold the finer column first, then
    sketch_merge as usual."""
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [Sketch.from_bytes(b).fold_to(p).to_bytes() for b in blobs]
        )

    return f


@functools.cache
def sketch_size():
    @pandas_udf(LongType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([int(Sketch.from_bytes(b).size) for b in blobs])

    return f


@functools.cache
def sketch_expected_fpp():
    @pandas_udf(DoubleType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([Sketch.from_bytes(b).expected_fpp() for b in blobs])

    return f


def quantile_udf(q: float):
    """Quantile estimate over a quantile-sketch `sketch binary` column
    (KLL / t-digest / DDSketch / REQ — kind-dispatched via from_bytes)."""

    @pandas_udf(DoubleType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([float(Sketch.from_bytes(b).quantile(q)) for b in blobs])

    return f


def sketch_merge_udf():
    """Row-wise blob merge: merge(a, b) → blob (null-safe: null acts as the
    identity). Lets SQL express incremental merges over sketch columns."""
    from pyspark.sql.types import BinaryType

    def _f(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None:
                out.append(y)
            elif y is None:
                out.append(x)
            else:
                out.append(Sketch.from_bytes(x).merge(Sketch.from_bytes(y)).to_bytes())
        return pd.Series(out)

    return pandas_udf(_f, BinaryType())


def sketch_intersect_udf():
    """Bounded intersection estimate between two theta (or HLL) sketch
    columns — retention queries in pure SQL over a grouped-sketch table."""

    def _f(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(
                    float(
                        Sketch.from_bytes(x).intersect_estimate(Sketch.from_bytes(y))
                    )
                )
        return pd.Series(out)

    return pandas_udf(_f, DoubleType())


@functools.cache
def mg_topk(k: int):
    """Top-k heavy hitters out of a Misra–Gries blob column: one row of
    (item string, lo bigint, hi bigint) per hitter, count-descending with
    the sketch's deterministic tie-break.  True frequency is bracketed
    lo ≤ f ≤ hi (= lo + the summary's error bound n/(k_mg+1)); items are
    rendered as strings so int- and string-keyed summaries share a schema.
    The per-source-top-tokens / top-URLs query over a grouped-MG table in
    pure SQL — no raw-row shuffle after the table is built."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_t = ArrayType(
        StructType(
            [
                StructField("item", StringType()),
                StructField("lo", LongType()),
                StructField("hi", LongType()),
            ]
        )
    )

    @pandas_udf(out_t)
    def f(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            sk = Sketch.from_bytes(b)
            e = sk.error_bound()
            items = sorted(sk.counters.items(), key=lambda kv: (-kv[1], str(kv[0])))
            out.append(
                [
                    {"item": str(key), "lo": int(c), "hi": int(c) + e}
                    for key, c in items[:k]
                ]
            )
        return pd.Series(out)

    return f


@functools.cache
def tuple_sum():
    """Horvitz–Thompson distinct-key value total from a tuple-sketch
    `sketch binary` column (TupleSketch.sum_estimate — exact below
    saturation). Pairs with tuple_sum_se for the plug-in error band."""

    @pandas_udf(DoubleType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([Sketch.from_bytes(b).sum_estimate() for b in blobs])

    return f


@functools.cache
def tuple_sum_se():
    """3σ plug-in standard error of tuple_sum (Cohen–Kaplan 2007)."""

    @pandas_udf(DoubleType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [Sketch.from_bytes(b).sum_error_estimate() for b in blobs]
        )

    return f


@functools.cache
def cs_f2():
    """AMS second frequency moment (self-join size) from a CountSketch
    `sketch binary` column — median over rows of Σ counts², exact integer
    arithmetic inside (CountSketch.f2)."""

    @pandas_udf(LongType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([int(Sketch.from_bytes(b).f2()) for b in blobs])

    return f


def register_sql(spark: SparkSession) -> None:
    """SQL veneer: spark.sql("SELECT hll_estimate(sketch) FROM ...")."""
    spark.udf.register("hll_estimate", hll_estimate())
    spark.udf.register("hll_cardinality", hll_cardinality())
    spark.udf.register("sketch_size", sketch_size())
    spark.udf.register("sketch_expected_fpp", sketch_expected_fpp())
    spark.udf.register("sketch_merge", sketch_merge_udf())
    spark.udf.register("sketch_intersect", sketch_intersect_udf())
    spark.udf.register("hll_fold", _sketch_fold_sql())
    spark.udf.register("sketch_fold", _sketch_fold_sql())
    spark.udf.register("mg_topk10", mg_topk(10))
    spark.udf.register("tuple_sum", tuple_sum())
    spark.udf.register("tuple_sum_se", tuple_sum_se())
    spark.udf.register("cs_f2", cs_f2())
    spark.udf.register("shll_window", shll_window())
    spark.udf.register("sketch_contains", sketch_contains())
    spark.udf.register("varopt_total", varopt_total())
    spark.udf.register("sketch_ks", sketch_ks())


def ks_distance(a, b, grid: int = 512) -> float:
    """Kolmogorov–Smirnov distance sup|F_a − F_b| between two quantile
    sketches (KLL / t-digest / REQ / DD — anything with quantile+rank):
    both CDFs are evaluated on the union of each sketch's ``grid``-point
    quantile grid, so the sup is found to within the grid resolution.
    Error ≤ rank_error_bound(a) + rank_error_bound(b) + 2/grid — the
    corpus-drift monitor: compare this week's value distribution to last
    week's from two KB blobs, no raw data."""
    import numpy as np

    qs = np.linspace(0.0, 1.0, grid + 1)
    pts = np.unique(
        np.concatenate(
            [np.atleast_1d(a.quantile(qs)), np.atleast_1d(b.quantile(qs))]
        )
    )
    pts = pts[np.isfinite(pts)]
    if len(pts) == 0:
        return 0.0
    ra = np.atleast_1d(a.rank(pts))
    rb = np.atleast_1d(b.rank(pts))
    return float(np.abs(ra - rb).max())


def mg_share_drift(a, b, min_hi: float = 0.0) -> list:
    """Categorical drift between two Misra–Gries blobs: for every item
    retained on EITHER side, the interval [lo, hi] certainly containing
    its frequency-share change |f_a/n_a − f_b/n_b| (interval arithmetic
    over the MG brackets c ≤ f ≤ c+e; an item absent from one side has
    f ∈ [0, e] there).  Returns [(item, lo, hi)] sorted by hi descending,
    filtered to hi ≥ ``min_hi`` — the categorical sibling of
    :func:`ks_distance`: "which event types / sources / tools shifted
    share between snapshots", from two KB blobs, with certified brackets
    (lo > 0 ⇒ the shift is REAL, not summary error)."""
    out = []
    na, nb = max(a.n, 1), max(b.n, 1)
    for item in set(a.counters) | set(b.counters):
        ca, cb = a.counters.get(item, 0), b.counters.get(item, 0)
        lo_a, hi_a = ca / na, (ca + a.e) / na
        lo_b, hi_b = cb / nb, (cb + b.e) / nb
        lo = max(0.0, max(lo_a - hi_b, lo_b - hi_a))
        hi = max(hi_a - lo_b, hi_b - lo_a)
        if hi >= min_hi:
            out.append((item, lo, hi))
    out.sort(key=lambda t: (-t[2], str(t[0])))
    return out


@functools.cache
def sketch_ks():
    """``sketch_ks(sketch_a, sketch_b)`` — KS distance between two
    quantile-sketch blobs (see :func:`ks_distance`); NULL when either
    side is NULL."""

    @pandas_udf(DoubleType())
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)  # SQL NULL, not NaN: IS NOT NULL must filter it
            else:
                out.append(
                    ks_distance(_cached_sketch(bytes(ba)), _cached_sketch(bytes(bb)))
                )
        return pd.Series(out, dtype="object")

    return f


@functools.cache
def sketch_contains():
    """``sketch_contains(sketch, value)`` — membership probe against a
    filter BLOB COLUMN (bloom/cuckoo/qf/sbf/xor), for the per-key-filter
    join shape where each row carries its group's blob: rows are grouped
    by distinct blob and each group probes as ONE vectorized batch, so the
    per-row Python cost is amortized to the number of distinct blobs in
    the Arrow batch (≈ number of groups), not the number of rows."""
    import numpy as np

    @pandas_udf(BooleanType())
    def f(blobs: pd.Series, values: pd.Series) -> pd.Series:
        out = np.zeros(len(values), dtype=bool)
        for blob, m in _blob_groups(blobs):
            sk = _cached_sketch(blob)
            arr = _coerce_for_funnel(pa.Array.from_pandas(values[m]), sk)
            res = _expand_nulls(arr, sk.might_contain_batch(arr), False)
            out[m] = np.asarray(res, dtype=bool)
        return pd.Series(out)

    return f


@functools.cache
def varopt_total():
    """``varopt_total(sketch)`` — Σ est_weight of a VarOpt blob, which
    equals the total ingested weight exactly (sketches/varopt.py)."""

    @pandas_udf(DoubleType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if b is None else _cached_sketch(bytes(b)).total_estimate()
                for b in blobs
            ],
            dtype="object",  # object series: None -> SQL NULL (NaN would not be)
        )

    return f


@functools.cache
def shll_window():
    """``shll_window(sketch, window_seconds)`` — distinct-count estimate
    over the trailing window ending at the blob's newest timestamp, from a
    sliding-HLL blob (sketches/shll.py). NULL window → all elements ever
    seen (the plain-HLL estimate)."""

    @pandas_udf(DoubleType())
    def f(blobs: pd.Series, windows: pd.Series) -> pd.Series:
        return pd.Series(
            [
                Sketch.from_bytes(b).estimate_window(
                    None if w is None or pd.isna(w) else float(w)
                )
                for b, w in zip(blobs, windows)
            ]
        )

    return f


@functools.cache
def _sketch_fold_sql():
    """SQL fold to a coarser parameter: ``sketch_fold(sketch, param)`` —
    HLL blobs fold to precision ``param`` (byte-identical to a direct build,
    see HllSketch.fold_to; sliding-HLL blobs carry the same exact law —
    SlidingHllSketch.fold_to), theta blobs to a smaller k (same exactness,
    see ThetaSketch.fold_to), KLL to a smaller k and t-digest to a smaller δ
    (bound-preserving, not byte-identical — their compaction is history-
    dependent), DD by an integer grid multiplier m (γ→γᵐ — exact integer
    regrid that commutes with merge byte-for-byte while ``collapses == 0``;
    after a max_bins collapse the clamped low tail is order-dependent, see
    DDSketch.fold_to), CMS by an integer width divisor m (w→w/m, m | w —
    a pure reshape-sum on the counter matrix, byte-exact with no caveat;
    see CmsSketch.fold_to). Kinds without fold_to
    raise AttributeError → surfaced as a task error, never a silent wrong
    blob."""
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def f(blobs: pd.Series, ps: pd.Series) -> pd.Series:
        # t-digest deltas are floats; int() would silently coarsen 150.5 →
        # 150. Keep fractional params as float (t-digest fold_to accepts
        # them); integral ones become int for the int-parameter kinds.
        def _p(p):
            p = float(p)
            return int(p) if p.is_integer() else p

        return pd.Series(
            [
                Sketch.from_bytes(b).fold_to(_p(p)).to_bytes()
                for b, p in zip(blobs, ps)
            ]
        )

    return f


def composite_key(*cols):
    """Canonical multi-column funnel: ``to_json(struct(cols...))``.

    Sketching a composite key — distinct (conv_id, turn_idx) pairs,
    membership of (user, day) tuples — needs a single unambiguous byte
    string per tuple. JSON-encoding the struct is canonical (field order =
    argument order, values escaped) and stays entirely inside whole-stage
    codegen; the result feeds any sketch's UTF-8 funnel unchanged.
    """
    from pyspark.sql import Column, functions as F

    return F.to_json(
        F.struct(*[F.col(c) if isinstance(c, str) else c for c in cols])
    )
