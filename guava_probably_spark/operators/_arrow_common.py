"""Shared Arrow-batch kernels for the vectorized grouped operators.

Every grouped build (HLL / theta / CMS / KLL / mode / quantiles) starts the
same way inside its ``mapInArrow`` stage: drop null values (a null hashes to
nothing), murmur3-hash the value column, gather the partition into one
contiguous buffer, and dictionary-encode the keys into dense codes. Several
then collapse duplicate (key, hash) rows with the same lexsort → run-boundary
pass. Those blocks used to be copy-pasted per operator and diverged once
(the theta packer's compression flag); this module is the single home.
"""

from __future__ import annotations

from collections.abc import Iterator

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


def repartition_by_key(df, partitions: int | None, keys=("k",)):
    """The one reduce-partition rule of the grouped builds: co-locate each
    key (the ``keys`` columns, ``k`` by default) in ``partitions``
    partitions when the caller asks for a count, else in
    ``defaultParallelism`` partitions — one wave of Python tasks. Neither
    ``spark.sql.shuffle.partitions`` nor AQE decides it: Spark's default
    of 200 partitions runs 200 Python tasks per build (about 10× slower on
    25 k rows and 4 cores), and AQE coalescing by bytes can leave fewer
    tasks than cores (1.2–1.5× slower there)."""
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


def gather_keyed_hashes(
    batches: Iterator[pa.RecordBatch], col_idx: int, with_h2: bool = False
):
    """Null-filter → ``hash_column`` → one contiguous (uniq, codes, h1[, h2]).

    Returns ``None`` for an empty partition, else ``(uniq, codes, h1, h2)``
    where ``uniq`` is the arrow key dictionary, ``codes`` the dense int64
    key codes per row, and ``h1``/``h2`` uint64 murmur3 halves (``h2`` is
    ``None`` unless ``with_h2``). Keys ride as batch column 0; the value
    column is ``col_idx``.
    """
    from ..sketches.base import hash_column

    keys_parts: list[pa.Array] = []
    h1_parts: list[np.ndarray] = []
    h2_parts: list[np.ndarray] = []
    for batch in batches:
        key_arr = batch.column(0)
        val = batch.column(col_idx)
        if val.null_count:
            keep = val.is_valid()
            key_arr = key_arr.filter(keep)
            val = val.drop_null()
        if len(val) == 0:
            continue
        _, h1, h2 = hash_column(val)
        keys_parts.append(key_arr)
        h1_parts.append(h1)
        if with_h2:
            h2_parts.append(h2)
    if not keys_parts:
        return None
    keys = pa.chunked_array(keys_parts).combine_chunks()
    h1 = np.concatenate(h1_parts)
    h2 = np.concatenate(h2_parts) if with_h2 else None
    uniq, codes = encode_keys(keys)
    return uniq, codes, h1, h2


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

    The single home for the gather that grouped_kll / grouped_mode /
    grouped_quantiles each used to hand-roll (this module's docstring
    explains why copies diverge). ``as_float=True`` converts values to a
    float64 numpy array and additionally drops NaNs (pandas-origin frames
    surface missing floats as NaN, not null — a NaN would poison quantile
    and sketch kernels); otherwise values stay an Arrow array (e.g. for
    dictionary encoding). ``counts`` is an int64 numpy array when any batch
    carried a third column (pre-reduced input), else None. Returns None if
    no rows survive.
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
