"""The grouped-build driver and the Arrow-batch kernels it shares.

:func:`grouped_build` is the one plan of every grouped build: JVM
projection, the hot-key policy (the sampled :func:`_skew_probe` and the
kind's map-side combine), one key exchange, one ``mapInArrow``. Each
operator brings only a :class:`GroupedKind`: its kernels, its probe
threshold, its output schema, and whether its stage reads each reduce
partition sorted by key. The vectorized kinds (HLL / CMS / theta / mode /
quantiles) build every key of a partition at once; the sorted kinds
(``build_grouped`` and the KLL family) stream the sorted rows through
``build._grouped_build_stage``, one sketch per key.

Inside a vectorized stage every build starts the same way: drop null values
(a null hashes to nothing), murmur3-hash the value column, gather the
partition into one contiguous buffer, and dictionary-encode the keys into
dense codes. Several then collapse duplicate (key, hash) rows with the same
lexsort → run-boundary pass. Those blocks used to be copy-pasted per
operator and diverged once (the theta packer's compression flag); this
module is the single home.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa


def funnel_for_spark_type(dt) -> int:
    """The funnel byte a grouped blob header must carry for a value column
    of Spark type ``dt`` — MUST agree with build._bind_funnel (which uses
    arrow's is_integer), or grouped and ungrouped blobs over the same
    column refuse to merge (IncompatibleSketchError). In particular
    ByteType is an integer type."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from ..sketches.base import FUNNEL_LONG, FUNNEL_UTF8

    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return FUNNEL_LONG
    return FUNNEL_UTF8


def funnel_for_arrow_type(t: pa.DataType) -> int:
    """Arrow-schema twin of funnel_for_spark_type (file-scan paths)."""
    from ..sketches.base import FUNNEL_LONG, FUNNEL_UTF8

    return FUNNEL_LONG if pa.types.is_integer(t) else FUNNEL_UTF8


def repartition_by_key(df, partitions: int | None, keys):
    """The one reduce-partition rule of the grouped builds: co-locate each
    key (the ``keys`` columns) in ``partitions`` partitions when the caller
    asks for a count, else in ``defaultParallelism`` partitions — one wave
    of Python tasks. Neither ``spark.sql.shuffle.partitions`` nor AQE
    decides it: Spark's default of 200 partitions runs 200 Python tasks per
    build (about 10× slower on 25 k rows and 4 cores), and AQE coalescing
    by bytes can leave fewer tasks than cores (1.2–1.5× slower there)."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def encode_keys(keys: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """Dictionary-encode group keys with NULL as its own group (SQL GROUP BY
    semantics). Without this, a null key's null dictionary index round-trips
    through float NaN to INT64_MIN on the int64 cast — which either crashes
    the kernel (np.bincount/take on a negative code) or silently scatters
    the null rows into key 0's accumulator. Returns (uniq, codes); when
    nulls are present, uniq gains one trailing null element and null rows
    get its code."""
    enc = keys.dictionary_encode()
    uniq, idx = enc.dictionary, enc.indices
    if idx.null_count:
        codes = (
            idx.fill_null(len(uniq)).to_numpy(zero_copy_only=False).astype(np.int64)
        )
        uniq = pa.concat_arrays(
            [uniq.combine_chunks() if isinstance(uniq, pa.ChunkedArray) else uniq,
             pa.array([None], type=uniq.type)]
        )
        return uniq, codes
    return uniq, idx.to_numpy(zero_copy_only=False).astype(np.int64)


def hash_values(
    batches: Iterator[pa.RecordBatch], with_h2: bool = False
) -> Iterator[tuple]:
    """The one hash front end of the grouped builds: per ``(k, v)`` batch,
    drop the rows whose value is null (a null hashes to nothing) and
    murmur3-hash the rest. Yields ``(keys, h1, h2)`` per non-empty batch,
    uint64 halves, ``h2`` None unless ``with_h2``."""
    from ..sketches.base import hash_column

    for batch in batches:
        keys, val = batch.column(0), batch.column(1)
        if val.null_count:
            keys = keys.filter(val.is_valid())
            val = val.drop_null()
        if len(val):
            _, h1, h2 = hash_column(val)
            yield keys, h1, h2 if with_h2 else None


def int64_columns(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
    """``(keys, *columns)`` of batches that carry hashes or counts as bigint
    columns after the key (JVM ``xxhash64`` rows, combined rows)."""
    for batch in batches:
        yield (batch.column(0),) + tuple(
            c.to_numpy(zero_copy_only=False) for c in batch.columns[1:]
        )


def gather_keyed(parts: Iterator[tuple]):
    """One contiguous ``(uniq, codes, *columns)`` per partition from per-batch
    ``(keys, *columns)`` tuples (:func:`hash_values`, :func:`int64_columns`):
    ``uniq`` is the key dictionary, ``codes`` the dense int64 key code of
    each row, each column one numpy array (None stays None). Returns None
    when no row arrives."""
    keys, cols = [], []
    for key_arr, *arrays in parts:
        if len(key_arr):
            keys.append(key_arr)
            cols.append(arrays)
    if not keys:
        return None
    uniq, codes = encode_keys(pa.chunked_array(keys).combine_chunks())
    return (uniq, codes) + tuple(
        None if c[0] is None else np.concatenate(c) for c in zip(*cols)
    )


def sort_dedup_key_hash(
    codes: np.ndarray, h1: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Lexsort by (key, hash) and collapse duplicate (key, hash) runs.

    Returns ``(orig_idx, sc, sh, cnt)``: for each distinct (key, hash) run —
    keys ascending, hashes ascending within a key — the index of its first
    row in the ORIGINAL arrays (to gather ride-along columns), the key code,
    the hash, and the run multiplicity.
    """
    if len(codes) == 0:
        empty_idx = np.empty(0, dtype=np.int64)
        return empty_idx, codes[:0], h1[:0], empty_idx
    order = np.lexsort((h1, codes))
    sc = codes[order]
    sh = h1[order]
    first = np.empty(len(sc), dtype=bool)
    first[0] = True
    np.logical_or(sc[1:] != sc[:-1], sh[1:] != sh[:-1], out=first[1:])
    starts = np.flatnonzero(first)
    cnt = np.diff(np.append(starts, len(sc)))
    return order[starts], sc[starts], sh[starts], cnt


def gather_keyed_values(
    batches: Iterator[pa.RecordBatch], *, as_float: bool = False
):
    """Null-filter → one contiguous ``(keys, values, counts)`` for a
    partition whose batches are (key, value[, count]) columns.

    The single home for the gather of grouped_mode, grouped_quantiles, the
    count combine (:func:`run_combine`) and the KLL family's map-side
    combine (this module's docstring explains why copies diverge).
    ``as_float=True`` converts values to a float64 numpy array and
    additionally drops NaNs (pandas-origin frames surface missing floats as
    NaN, not null — a NaN would poison quantile and sketch kernels);
    otherwise values stay an Arrow array (e.g. for dictionary encoding).
    ``counts`` is an int64 numpy array when any batch carried a third
    column (pre-reduced input), else None. Returns None if no rows survive.
    """
    keys_parts, v_parts, c_parts = [], [], []
    counted = False
    for batch in batches:
        key_arr = batch.column(0)
        val = batch.column(1)
        cnt = batch.column(2) if batch.num_columns > 2 else None
        counted = counted or cnt is not None
        if val.null_count:
            keep = val.is_valid()
            key_arr = key_arr.filter(keep)
            if cnt is not None:
                cnt = cnt.filter(keep)
            val = val.drop_null()
        if len(val) == 0:
            continue
        if as_float:
            arr = val.to_numpy(zero_copy_only=False).astype(np.float64)
            finite = ~np.isnan(arr)
            if not finite.all():
                key_arr = key_arr.filter(pa.array(finite))
                if cnt is not None:
                    cnt = cnt.filter(pa.array(finite))
                arr = arr[finite]
            if len(arr) == 0:
                continue
            v_parts.append(arr)
        else:
            v_parts.append(val)
        keys_parts.append(key_arr)
        if cnt is not None:
            c_parts.append(cnt.to_numpy(zero_copy_only=False).astype(np.int64))
    if not keys_parts:
        return None
    keys = pa.chunked_array(keys_parts).combine_chunks()
    if len(keys) == 0:
        return None
    if as_float:
        values = np.concatenate(v_parts)
    else:
        values = pa.chunked_array(v_parts).combine_chunks()
    counts = np.concatenate(c_parts) if counted else None
    return keys, values, counts


def collapse_key_value_runs(
    codes: np.ndarray, vals: np.ndarray, w: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Lexsort (key code, value) and collapse to distinct runs with summed
    weights: returns ``(run_key, run_val, run_cnt)``, runs ordered by
    (key asc, value asc). ``w=None`` counts rows; otherwise weights are
    summed per run (the count-distributive combine shared by grouped_mode
    and grouped_quantiles)."""
    if len(codes) == 0:
        return codes, vals[:0], np.empty(0, dtype=np.int64)
    order = np.lexsort((vals, codes))
    sc, sv = codes[order], vals[order]
    run_start = np.empty(len(sc), dtype=bool)
    run_start[0] = True
    np.logical_or(sc[1:] != sc[:-1], sv[1:] != sv[:-1], out=run_start[1:])
    rs = np.flatnonzero(run_start)
    run_key = sc[rs]
    run_val = sv[rs]
    if w is None:
        run_cnt = np.diff(np.append(rs, len(sc))).astype(np.int64)
    else:
        run_id = np.cumsum(run_start) - 1
        run_cnt = np.bincount(run_id, weights=w[order]).astype(np.int64)
    return run_key, run_val, run_cnt


def encode_runs(keys: pa.Array, vals: pa.Array, w: np.ndarray | None):
    """Dictionary-encode keys and values (any Arrow type) and collapse to
    distinct (key, value) runs with summed weights. Returns ``(kuniq, vdict,
    vorder, run_key, run_val, run_cnt)`` where ``run_val`` is the value's
    rank in VALUE order (ascending), so the smallest value of a tie is a
    stable first pick and ``vdict.take(vorder[run_val])`` is the value."""
    import pyarrow.compute as pc

    kuniq, kc = encode_keys(keys)
    venc = vals.dictionary_encode()
    # arrow dictionary codes are appearance-ordered; re-rank by VALUE order
    vdict = venc.dictionary
    vorder = pc.sort_indices(vdict).to_numpy(zero_copy_only=False)
    vrank = np.empty(len(vdict), dtype=np.int64)
    vrank[vorder] = np.arange(len(vdict))
    vc = vrank[venc.indices.to_numpy(zero_copy_only=False).astype(np.int64)]
    run_key, run_val, run_cnt = collapse_key_value_runs(kc, vc, w)
    return kuniq, vdict, vorder, run_key, run_val, run_cnt


def run_combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Map-side combine of the count-distributive kinds (grouped_mode,
    grouped_quantiles): one ``(k, v, c)`` row per distinct (key, value) of
    the input partition, so a hot key crosses the exchange as its distinct
    values, not its rows. Null values are dropped; NaNs ride as a value and
    the float build drops them with their counts."""
    gathered = gather_keyed_values(batches)
    if gathered is None:
        return
    keys, vals, w = gathered
    kuniq, vdict, vorder, run_key, run_val, run_cnt = encode_runs(keys, vals, w)
    yield pa.RecordBatch.from_arrays(
        [
            kuniq.take(pa.array(run_key)),
            vdict.take(pa.array(vorder[run_val])),
            pa.array(run_cnt.astype(np.int64)),
        ],
        names=["k", "v", "c"],
    )


_SKEW_PROBE_FRACTION = 0.01
_PROBE_CACHE: dict = {}  # (plan semanticHash, threshold) -> bool
_PROBE_CACHE_CAP = 256


def _skew_probe(narrow, threshold: int) -> bool:
    """Eager sampled skew detection: does any key plausibly ship
    ≥ ``threshold`` rows PER INPUT PARTITION (the regime where a map-side
    combine actually compresses)? One cheap JVM-side job (sample →
    partial-agg count → limit 1). The cutoff assumes a hot key's rows
    spread roughly evenly over input partitions — global ≥ threshold ×
    n_input_partitions; a key clustered into few partitions can slip past
    the probe, but such a key also fits comfortably in one reduce task, and
    a key ≥ 2× the cutoff is detected with near certainty (sampled count is
    Binomial with mean ≥ 2× cutoff). A false positive merely routes the
    input through the (correct, ~1.45× slower) combined plan. Bounded by
    design: the probe returns one boolean. Precedent for the eager bounded
    job: the IVF codebook sample (pipeline/ivf.py).

    Measured alternative (r3): a broadcast skew-SPLIT plan (hot rows only
    through the partial round trip, cold rows single-phase, union) lost to
    the full combine at 8M rows — triple scan + two joins cost more than
    one extra Arrow round trip — so the policy picks between the one-stage
    plan and the full combine only.

    The verdict is memoized per (input plan semanticHash, threshold) for
    the session: re-running the same query reuses the answer instead of
    re-scanning the sample. Data appended under an identical plan within
    one session won't re-trigger the probe. The key is column 0 of
    ``narrow``, as in every kernel."""
    from pyspark.sql import functions as F

    try:
        cache_key = (narrow.semanticHash(), threshold)
    except Exception:  # pragma: no cover — semanticHash unavailable
        cache_key = None
    if cache_key is not None and cache_key in _PROBE_CACHE:
        return _PROBE_CACHE[cache_key]
    n_parts = max(1, narrow.rdd.getNumPartitions())
    cutoff = max(2, int(threshold * n_parts * _SKEW_PROBE_FRACTION))
    hot = (
        narrow.sample(fraction=_SKEW_PROBE_FRACTION, seed=42)
        .groupBy(narrow.columns[0])
        .count()
        .where(F.col("count") >= cutoff)
        .limit(1)
        .count()
    )
    if cache_key is not None:
        if len(_PROBE_CACHE) >= _PROBE_CACHE_CAP:
            _PROBE_CACHE.clear()
        _PROBE_CACHE[cache_key] = hot > 0
    return hot > 0


@dataclass(frozen=True)
class GroupedKind:
    """What one kind brings to :func:`grouped_build`: its kernels, its
    hot-key threshold and its output schema. Every kernel is a
    ``mapInArrow`` function whose input batches carry the key columns
    first."""

    schema: str  # output columns after the key columns
    build: Callable  # build over (keys, v[, w]) batches: the one-stage plan
    probe_rows: int | None = None  # hot rows per input partition; None: never probe
    combine: Callable | None = None  # map-side combine over (k, v) batches
    combined: str = ""  # the combine's output columns after the key
    merge: Callable | None = None  # build over combined batches; default ``build``
    hashed: Callable | None = None  # build over (k, xxhash64(v)) batches: ``prehash``
    cast: str | None = None  # Spark type the value column is cast to
    sorted: bool = False  # the stage reads each reduce partition sorted by key


_V, _W = "__gp_v", "__gp_w"


def grouped_build(
    df,
    key: str | list[str],
    col: str,
    kind: GroupedKind,
    *,
    weight_col: str | None = None,
    partitions: int | None = None,
    assume_colocated: bool = False,
    prehash: bool = False,
    rename: bool = True,
):
    """The one plan of every grouped build (grouped_hll, grouped_cms,
    grouped_theta, grouped_kll and its siblings, grouped_mode,
    grouped_quantiles, build_grouped): project ``(*keys, v[, w])`` in the
    JVM, run the hot-key policy, co-locate each key with one exchange, and
    build every key of a partition in ONE ``mapInArrow``. Output:
    ``(*keys, *kind.schema)`` under the caller's key names, or one column
    ``key`` when ``rename=False``. Internal names are ``__gp_``-prefixed,
    so they cannot collide with a caller's column.

    ``weight_col`` is cast to ``long``, and rows whose value or weight is
    NULL are dropped in the JVM, so the weights stay aligned with the
    values. A ``sorted`` kind reads each reduce partition sorted by key
    (``sortWithinPartitions`` after the exchange; it spills, so a
    partition of any size fits) and streams it, one key at a time.

    Hot keys: when the kind has a ``probe_rows`` threshold, the memoized
    sampled :func:`_skew_probe` decides whether any key ships that many
    rows per input partition; only then does the kind's map-side combine
    run before the exchange, and ``merge`` builds from the combined rows.
    Every combine is exact or mergeable, so the output is the one-stage
    plan's (byte-equal wherever the kind's determinism class promises it).

    ``prehash=True`` projects ``(k, xxhash64(v))`` over the non-null
    values instead (``xxhash64(NULL)`` is the constant 42, which would
    count nulls as one value) and builds with ``kind.hashed``: no Python
    runs before the exchange. ``assume_colocated=True`` skips the exchange
    for input already partitioned by ``key`` (a sorted kind still sorts
    each partition). Neither runs the probe."""
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    aliases = [f"__gp_k{i}" for i in range(len(keys))]
    key_schema = ", ".join(
        f"{a} {df.schema[k].dataType.simpleString()}" for k, a in zip(keys, aliases)
    )
    if prehash:
        df = df.where(F.col(col).isNotNull())
        v, stage = F.xxhash64(col), kind.hashed
    else:
        v = F.col(col) if kind.cast is None else F.col(col).cast(kind.cast)
        stage = kind.build
    projected = [F.col(k).alias(a) for k, a in zip(keys, aliases)] + [v.alias(_V)]
    if weight_col is not None:
        projected.append(F.col(weight_col).cast("long").alias(_W))
    rows = df.select(*projected)
    if weight_col is not None:
        rows = rows.where(F.col(_V).isNotNull() & F.col(_W).isNotNull())
    if (
        not prehash
        and kind.probe_rows is not None
        and not assume_colocated
        and _skew_probe(rows, kind.probe_rows)
    ):
        rows = rows.mapInArrow(kind.combine, f"{key_schema}, {kind.combined}")
        stage = kind.merge or kind.build
    if not assume_colocated:
        rows = repartition_by_key(rows, partitions, aliases)
    if kind.sorted:
        rows = rows.sortWithinPartitions(*aliases)
    out = rows.mapInArrow(stage, f"{key_schema}, {kind.schema}")
    return out.withColumnsRenamed(dict(zip(aliases, keys if rename else ["key"])))
