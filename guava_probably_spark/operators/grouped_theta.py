"""High-cardinality grouped Theta/KMV: one bounded-set-op sketch per key,
vectorized across ALL keys in a partition (same one-stage plan as
operators/grouped_hll.py — one key exchange, one sorted pass).

Why: per-group HLL answers "distinct per key" but cannot intersect ACROSS
keys with a bound. Per-key theta sketches can — "users active on day 1 AND
day 7" (retention), "conversations touching tool A AND tool B" — each a
`intersect_estimate` between two rows of the output, with the theta
sample bound (sketches/theta.py) instead of HLL's unbounded
inclusion–exclusion.

Plan: the shared driver's (_arrow_common.grouped_build). Project (key,
value) in the JVM; the sampled skew probe (threshold k rows per input
partition) decides whether any key is hot. Without one, repartition(key)
into ``defaultParallelism`` partitions (one wave of Python tasks) unless
``partitions`` is given, then ONE mapInArrow per partition hashes the
values and runs the kernel. With one, a map-side KMV combine ships at
most k distinct hashes per (input partition, key) across the exchange
instead.

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

from pyspark.sql import DataFrame

from ..sketches.base import FUNNEL_PREHASHED, KIND_THETA, MAGIC, VERSION, Sketch
from ._arrow_common import (
    GroupedKind,
    funnel_for_spark_type,
    gather_keyed,
    grouped_build,
    hash_values,
    int64_columns,
    sort_dedup_key_hash,
)


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


def _prereduce_stage(k_param: int):
    """Hash + MAP-SIDE KMV combine in one Python pass: per (partition, key)
    only the k smallest distinct hashes cross the shuffle, plus the raw
    row count carried on the key's first row. This is the skew armor — a
    hot key ships ≤ parts × k rows total instead of its entire row set,
    and the retained-set union downstream is associative so blobs stay
    byte-identical to the unreduced build (tested)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gathered = gather_keyed(hash_values(batches))
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


def _build_stage(k_param: int, funnel: int, front=int64_columns):
    """The KMV build over one partition: ``front`` turns its batches into
    (keys, h[, c]) — (k, hash) or combined (k, h, c) rows by default, raw
    (k, v) rows through :func:`hash_values`."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gathered = gather_keyed(front(batches))
        if gathered is None:
            return
        uniq, codes, h1, *rest = gathered
        h1 = h1.view(np.uint64)
        c = rest[0] if rest else None
        if c is not None:  # combined input: raw counts ride the c column
            counts = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(counts, codes, c.astype(np.int64))
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
    assume_colocated: bool = False,
    prehash: bool = False,
) -> DataFrame:
    """Per-key ThetaSketch at high key cardinality → (key, sketch, n) with
    blobs byte-identical to a local ThetaSketch build of the same group.
    Rows of the output support bounded union/intersect/difference ACROSS
    keys (retention-style queries).

    A hot key (the shared driver's skew probe, k rows per input partition)
    takes the map-side KMV combine: each input partition ships at most k
    distinct hashes per key (+ the raw count on one row) — the shuffle is
    bounded by parts × keys × k rows no matter how hot a key is, and
    duplicate (key, value) rows collapse before the exchange. Otherwise
    hashing and the build share one Python stage after the exchange. The
    retained-set union is associative, so the output blobs are
    byte-identical either way (tested).

    ``prehash=True`` hashes the value column JVM-SIDE with ``xxhash64`` and
    feeds the 64-bit hashes straight into the KMV retention — no Python
    stage runs before the shuffle and a wide value column never crosses
    the JVM↔Python boundary (8 B/row + key do). KMV only consumes the
    hash ORDER, so the estimator and its bound are unchanged under any
    uniform 64-bit hash; blobs carry FUNNEL_PREHASHED and refuse to merge
    with murmur3-funnel blobs of the same column (the retained domains
    differ). Null values are dropped JVM-side (xxhash64(NULL) = seed
    would count nulls as one distinct). The prehash trade is shuffle rows
    = input rows and no hot-key combine; prefer it when the value column
    is wide text."""
    funnel = (
        FUNNEL_PREHASHED if prehash else funnel_for_spark_type(df.schema[col].dataType)
    )
    from_hashes = _build_stage(k, funnel)
    kind = GroupedKind(
        "sketch binary, n bigint",
        _build_stage(k, funnel, hash_values),
        probe_rows=k,
        combine=_prereduce_stage(k),
        combined="h bigint, c bigint",
        merge=from_hashes,
        hashed=from_hashes,
    )
    return grouped_build(
        df, key, col, kind, partitions=partitions,
        assume_colocated=assume_colocated, prehash=prehash,
    )
