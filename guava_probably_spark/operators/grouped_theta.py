"""High-cardinality grouped Theta/KMV: one bounded-set-op sketch per key,
vectorized across ALL keys in a partition (same one-stage plan as
operators/grouped_hll.py — one key exchange, one sorted pass).

Why: per-group HLL answers "distinct per key" but cannot intersect ACROSS
keys with a bound. Per-key theta sketches can — "users active on day 1 AND
day 7" (retention), "conversations touching tool A AND tool B" — each a
`intersect_estimate` between two rows of the output, with the theta
sample bound (sketches/theta.py) instead of HLL's unbounded
inclusion–exclusion.

Plan: project (key, value) in the JVM; by default one sampled skew probe
(grouped_kll._skew_probe, threshold k rows per input partition) decides
whether any key is hot. Without one, repartition(key) into
``defaultParallelism`` partitions (one wave of Python tasks) unless
``partitions`` is given (_arrow_common.repartition_by_key), then ONE
mapInArrow per partition hashes the values and runs the kernel. With one
(or ``pre_reduce=True``), a map-side KMV combine ships at most k distinct
hashes per (input partition, key) across the exchange instead.

Kernel: lexsort (key, hash) → drop duplicate (key, hash) pairs → keep the
first k per key (the k SMALLEST distinct hashes — exactly ThetaSketch's
retained set, so emitted blobs are byte-identical to a local
ThetaSketch.to_bytes() of the same group, tested). One sort per partition,
no per-group Python.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..sketches.base import KIND_THETA, MAGIC, VERSION, Sketch
from ._arrow_common import funnel_for_spark_type, repartition_by_key
from .grouped_hll import _hash_stage


def _pack_theta_rows(
    uniq: pa.Array, codes_of_hashes: np.ndarray, hashes: np.ndarray,
    counts: np.ndarray, k_param: int, funnel: int,
) -> pa.Array:
    """Per-key retained-hash runs → ThetaSketch blob per key, byte-identical
    to a local ThetaSketch.to_bytes() of the same group INCLUDING the
    compression rule: payloads above Sketch._COMPRESS_THRESHOLD are
    zlib(level 1)-compressed with comp=1 in the header, exactly like
    base.Sketch.to_bytes (ADVICE r1: the packer used to always write comp=0,
    breaking blob-equality for saturated k>8192 sketches).
    codes_of_hashes is sorted ascending; hashes ascending within each code."""
    n_keys = len(uniq)
    per_key = np.bincount(codes_of_hashes, minlength=n_keys).astype(np.int64)
    header = MAGIC + struct.pack("<BBBB", VERSION, KIND_THETA, funnel, 0) + struct.pack(
        "<I", 4
    ) + struct.pack("<I", k_param)
    head = np.frombuffer(header, dtype=np.uint8)
    hl = len(head)
    row_size = hl + 8 * per_key
    offsets = np.zeros(n_keys + 1, dtype=np.int64)
    np.cumsum(row_size, out=offsets[1:])
    buf = np.zeros(int(offsets[-1]), dtype=np.uint8)
    hdr_pos = offsets[:-1, None] + np.arange(hl, dtype=np.int64)
    buf[hdr_pos.reshape(-1)] = np.broadcast_to(head, (n_keys, hl)).reshape(-1)
    starts = np.zeros(n_keys + 1, dtype=np.int64)
    np.cumsum(per_key, out=starts[1:])
    rank = np.arange(len(hashes), dtype=np.int64) - np.repeat(starts[:-1], per_key)
    base = offsets[codes_of_hashes] + hl + 8 * rank
    for b in range(8):
        buf[base + b] = ((hashes >> np.uint64(8 * b)) & np.uint64(0xFF)).astype(np.uint8)
    if int(offsets[-1]) >= 1 << 31:
        raise ValueError("partition blob buffer exceeds BinaryArray offset range")

    big = (8 * per_key) > Sketch._COMPRESS_THRESHOLD
    if big.any():
        # rare regime (saturated keys at k > 8192): per-row zlib matches the
        # local to_bytes() rule; the loop cost is dominated by zlib itself
        import zlib

        head_c = bytes(head[:7]) + b"\x01" + bytes(head[8:])
        mv = memoryview(buf)
        out = []
        for i in range(n_keys):
            lo, hi = int(offsets[i]), int(offsets[i + 1])
            if big[i]:
                out.append(head_c + zlib.compress(bytes(mv[lo + hl : hi]), 1))
            else:
                out.append(bytes(mv[lo:hi]))
        return pa.array(out, type=pa.binary())
    return pa.BinaryArray.from_buffers(
        pa.binary(), n_keys,
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
    )


def _kmin_distinct(
    codes: np.ndarray, h1: np.ndarray, n_keys: int, k_param: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per key-code: the k smallest DISTINCT hashes (lexsort → dedup →
    rank<k). Returns (codes_top sorted asc, hashes_top asc within code,
    first-row mask per code within the top set)."""
    from ._arrow_common import sort_dedup_key_hash

    _, sc, sh, _ = sort_dedup_key_hash(codes, h1)
    if len(sc) == 0:  # partition fed only zero-row batches
        return sc, sh, np.zeros(0, dtype=bool)
    # distinct (key, hash), hash ascending within key
    starts_mask = np.empty(len(sc), dtype=bool)
    starts_mask[0] = True
    np.not_equal(sc[1:], sc[:-1], out=starts_mask[1:])
    seg_first = np.flatnonzero(starts_mask)
    seg_id = np.cumsum(starts_mask) - 1
    rank = np.arange(len(sc), dtype=np.int64) - seg_first[seg_id]
    top = rank < k_param
    return sc[top], sh[top], (rank == 0)[top]


def _prereduce_stage(col_idx: int, k_param: int):
    """Hash + MAP-SIDE KMV combine in one Python pass: per (partition, key)
    only the k smallest distinct hashes cross the shuffle, plus the raw
    row count carried on the key's first row. This is the skew armor — a
    hot key ships ≤ parts × k rows total instead of its entire row set,
    and the retained-set union downstream is associative so blobs stay
    byte-identical to the unreduced build (tested)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ._arrow_common import gather_keyed_hashes

        gathered = gather_keyed_hashes(batches, col_idx)
        if gathered is None:
            return
        uniq, codes, h1, _ = gathered
        raw_counts = np.bincount(codes, minlength=len(uniq)).astype(np.int64)
        sc, sh, first = _kmin_distinct(codes, h1, len(uniq), k_param)
        cnt = np.zeros(len(sc), dtype=np.int64)
        cnt[first] = raw_counts[sc[first]]
        yield pa.RecordBatch.from_arrays(
            [uniq.take(pa.array(sc)), pa.array(sh.view(np.int64)), pa.array(cnt)],
            names=["k", "h", "c"],
        )

    return fn


def _build_stage(k_param: int, funnel: int):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts = []
        h_parts = []
        c_parts = []
        for batch in batches:
            keys_parts.append(batch.column(0))
            h_parts.append(batch.column(1).to_numpy(zero_copy_only=False))
            if batch.num_columns > 2:
                c_parts.append(batch.column(2).to_numpy(zero_copy_only=False))
        if not keys_parts:
            return
        keys = pa.chunked_array(keys_parts).combine_chunks()
        if len(keys) == 0:  # only zero-row batches reached this partition
            return
        h1 = np.concatenate(h_parts).view(np.uint64)
        from ._arrow_common import encode_keys

        uniq, codes = encode_keys(keys)
        if c_parts:  # pre-reduced input: raw counts ride the c column
            counts = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(counts, codes, np.concatenate(c_parts).astype(np.int64))
        else:
            counts = np.bincount(codes, minlength=len(uniq)).astype(np.int64)

        sc_top, sh_top, _ = _kmin_distinct(codes, h1, len(uniq), k_param)
        blobs = _pack_theta_rows(uniq, sc_top, sh_top, counts, k_param, funnel)
        yield pa.RecordBatch.from_arrays(
            [uniq, blobs, pa.array(counts)], names=["key", "sketch", "n"]
        )

    return fn


def grouped_theta(
    df: DataFrame,
    key: str,
    col: str,
    k: int = 4096,
    partitions: int | None = None,
    pre_reduce: bool | str | None = "auto",
    assume_colocated: bool = False,
    prehash: bool = False,
) -> DataFrame:
    """Per-key ThetaSketch at high key cardinality → (key, sketch, n) with
    blobs byte-identical to a local ThetaSketch build of the same group.
    Rows of the output support bounded union/intersect/difference ACROSS
    keys (retention-style queries).

    ``pre_reduce=True`` applies the map-side KMV combine: each input
    partition ships at most k distinct hashes per key (+ the raw count on
    one row) — the shuffle is bounded by parts × keys × k rows no matter
    how hot a key is, and duplicate (key, value) rows collapse before the
    exchange. The default ``"auto"`` (``None`` means the same) runs
    grouped_kll's memoized sampled skew probe with a k-row threshold and
    takes the combine only when some key is hot; otherwise hashing and
    the build share one Python stage after the exchange. The retained-set
    union is associative, so the output blobs are byte-identical either
    way (tested).

    ``prehash=True`` hashes the value column JVM-SIDE with ``xxhash64`` and
    feeds the 64-bit hashes straight into the KMV retention — no Python
    stage runs before the shuffle and a wide value column never crosses
    the JVM↔Python boundary (8 B/row + key do). KMV only consumes the
    hash ORDER, so the estimator and its bound are unchanged under any
    uniform 64-bit hash; blobs carry FUNNEL_PREHASHED and refuse to merge
    with murmur3-funnel blobs of the same column (the retained domains
    differ). Null values are dropped JVM-side (xxhash64(NULL) = seed
    would count nulls as one distinct). Under prehash ``"auto"`` resolves
    to False; ``pre_reduce=True`` (whose map-side KMV combine hashes in
    Python) raises — the prehash trade is shuffle rows = input rows
    instead of the ≤ parts × keys × k cap; prefer pre_reduce when keys
    are hot and values narrow, prehash when the value column is wide
    text."""

    key_type = df.schema[key].dataType.simpleString()
    narrow = df.select(F.col(key).alias("k"), F.col(col).alias("v"))
    if pre_reduce in (None, "auto"):
        from .grouped_kll import _skew_probe

        pre_reduce = not (prehash or assume_colocated) and _skew_probe(narrow, k)
    if prehash and pre_reduce:
        raise ValueError("prehash and pre_reduce are mutually exclusive")
    funnel = funnel_for_spark_type(df.schema[col].dataType)
    if prehash:
        from ..sketches.base import FUNNEL_PREHASHED

        funnel = FUNNEL_PREHASHED
        rows = (
            df.where(F.col(col).isNotNull())
            .select(F.col(key).alias("k"), F.xxhash64(col).alias("h"))
        )
        build = _build_stage(k, funnel)
    elif pre_reduce:
        rows = narrow.mapInArrow(
            _prereduce_stage(1, k), f"k {key_type}, h bigint, c bigint"
        )
        build = _build_stage(k, funnel)
    else:
        rows = narrow
        build = lambda it, h=_hash_stage(1), b=_build_stage(k, funnel): b(h(it))
    colocated = rows if assume_colocated else repartition_by_key(rows, partitions)
    return colocated.mapInArrow(
        build, f"key {key_type}, sketch binary, n bigint"
    ).withColumnRenamed("key", key)
