"""High-cardinality grouped Count-Min: one frequency sketch per key,
vectorized across ALL keys in a partition (the frequency sibling of
operators/grouped_hll.py — same one-stage plan, one scatter pass).

Why: `build_grouped` with a CMS spec builds one sketch object per group in a
Python loop — wrong at 10^6+ keys. CMS counts are additive, so every group in a
partition can be updated simultaneously:

  1. project (key, value) in the JVM; the shared driver's sampled skew
     probe (_arrow_common.grouped_build, threshold 4096 rows per input
     partition, as grouped_mode) decides whether any key is hot;
  2. repartition(key): the one unavoidable shuffle, into
     ``defaultParallelism`` partitions (one wave of Python tasks) unless
     ``partitions`` is given (_arrow_common.repartition_by_key);
  3. ONE mapInArrow per partition: murmur3-hash the values → (h1, h2),
     dictionary-encode keys → codes; bucket index per depth is
     ((h1 + i·h2) & SIGN) mod w (identical arithmetic to
     sketches/cms.py:_buckets); ONE np.bincount per depth over the
     flattened (code, bucket) index updates every group's d×w matrix.

With a hot key a map-side stage hashes first and collapses duplicate
(key, value) rows into a count, so a hot key ships its DISTINCT values per
input partition, not its row set. Without one, the exchange carries every
(key, value) row once — no Python runs before it.

Blobs are byte-identical to a local ``CmsSketch.to_bytes()`` of the same
group (counts are order-independent), including the zlib rule above
``Sketch._COMPRESS_THRESHOLD`` — tested.

Memory: a partition holds K·d·w·8 bytes of counters (K = keys in that
partition). Size epsilon/delta for the per-key regime (e.g. eps=0.005,
delta=0.01 → d=5, w=544 → ~21 KB/key) and raise ``partitions`` so K/parts
fits; the build raises with the budget arithmetic if a partition would
exceed ``max_matrix_bytes``.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..sketches.base import FUNNEL_PREHASHED, KIND_CMS, MAGIC, VERSION, Sketch
from ..sketches.cms import _SIGN_MASK, cms_geometry
from ._arrow_common import (
    GroupedKind,
    funnel_for_spark_type,
    gather_keyed,
    grouped_build,
    hash_values,
    int64_columns,
    sort_dedup_key_hash,
)


def _hash_pairs(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
    """The murmur3 front end with both halves: CMS depth rows need h2."""
    return hash_values(batches, with_h2=True)


def _combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Hash + map-side duplicate collapse: per (key, value) one output row
    carrying the pair's multiplicity. CMS updates are weighted-additive, so
    (h1, h2, c) reproduces c identical updates exactly."""
    gathered = gather_keyed(_hash_pairs(batches))
    if gathered is None:
        return
    uniq, codes, h1, h2 = gathered
    # collapse duplicate (key, h1) runs; h2 rides along (same value ⇒ same
    # 128-bit hash, and a 64-bit h1 collision within one key is harmless —
    # CMS would over-count that bucket pair identically)
    orig_idx, sc, sh1, cnt = sort_dedup_key_hash(codes, h1)
    yield pa.RecordBatch.from_arrays(
        [
            uniq.take(pa.array(sc)),
            pa.array(sh1.view(np.int64)),
            pa.array(h2[orig_idx].view(np.int64)),
            pa.array(cnt.astype(np.int64)),
        ],
        names=["k", "h1", "h2", "c"],
    )


def _pack_cms_rows(
    uniq: pa.Array,
    counts: np.ndarray,  # (K, d, w) int64
    totals: np.ndarray,  # (K,) int64
    epsilon: float,
    delta: float,
    funnel: int,
) -> pa.Array:
    """(K, d, w) counter matrix → CmsSketch blob per key, byte-identical to
    a local ``CmsSketch.to_bytes()`` of the same group including the
    compression rule (same layout discipline as grouped_theta's packer)."""
    k, d, w = counts.shape
    payload_len = d * w * 8
    params_prefix = struct.pack("<ddqi", epsilon, delta, w, d)  # total appended per key
    header = (
        MAGIC
        + struct.pack("<BBBB", VERSION, KIND_CMS, funnel, 0)
        + struct.pack("<I", len(params_prefix) + 8)
        + params_prefix
    )
    head = np.frombuffer(header, dtype=np.uint8)
    hl = len(head)
    row_size = hl + 8 + payload_len
    if payload_len > Sketch._COMPRESS_THRESHOLD:
        # compressed regime: per-row zlib (the rule local to_bytes applies)
        head_c = bytes(head[:7]) + b"\x01" + bytes(head[8:])
        out = []
        for i in range(k):
            raw = struct.pack("<q", int(totals[i])) + np.ascontiguousarray(
                counts[i], dtype="<i8"
            ).tobytes()
            out.append(head_c[: hl] + raw[:8] + zlib.compress(raw[8:], 1))
        return pa.array(out, type=pa.binary())
    if k * row_size >= 1 << 31:
        raise ValueError("partition blob buffer exceeds BinaryArray offset range")
    buf = np.empty(k * row_size, dtype=np.uint8)
    mat = buf.reshape(k, row_size)
    mat[:, :hl] = head
    mat[:, hl : hl + 8] = totals.astype("<i8").view(np.uint8).reshape(k, 8)
    mat[:, hl + 8 :] = (
        np.ascontiguousarray(counts, dtype="<i8").view(np.uint8).reshape(k, payload_len)
    )
    offsets = (np.arange(k + 1, dtype=np.int64) * row_size).astype(np.int32)
    return pa.BinaryArray.from_buffers(
        pa.binary(), k, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf.tobytes())]
    )


def _build_stage(
    epsilon: float, delta: float, funnel: int, max_matrix_bytes: int,
    front=int64_columns,
):
    """The counter build over one partition: ``front`` turns its batches
    into (keys, h1, h2, c) — combined (k, h1, h2, c) rows, (k, xxhash64)
    rows, whose second depth hash derives from h1, or raw (k, v) rows
    through the murmur3 front end (``_hash_pairs``; c = None, one update
    per row)."""
    w, d = cms_geometry(epsilon, delta)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gathered = gather_keyed(front(batches))
        if gathered is None:
            return
        uniq, codes, h1, *rest = gathered
        h2, c = (*rest, None, None)[:2]  # (k, xxhash64) rows carry neither
        h1 = h1.view(np.uint64)
        if h2 is None:
            # (k, h1=xxhash64) only: the depth rows need a second
            # independent hash — derive it from h1 (uniform 64-bit) with the
            # shared salt+fmix rule so local CmsSketch(funnel=PREHASHED)
            # builds/probes land in the SAME buckets (blob byte-identity)
            from ..sketches.cms import prehash_pair

            h1, h2 = prehash_pair(h1)
        h2 = h2.view(np.uint64)
        n_keys = len(uniq)
        need = n_keys * d * w * 8
        if need > max_matrix_bytes:
            raise ValueError(
                f"grouped_cms partition needs {need} counter bytes "
                f"({n_keys} keys × d={d} × w={w}); raise `partitions`, widen "
                f"epsilon, or raise max_matrix_bytes"
            )
        # np.bincount (buffered) beats np.add.at (unbuffered scatter) ~10×.
        # One bincount per DEPTH over (key, col) — the temporary is one
        # (n_keys × w) float64 slab, 1/d of the matrix, assigned (cast in
        # place) into the preallocated int64 matrix. A full-matrix bincount
        # + astype here transiently tripled the guarded allocation, which
        # is exactly the OOM the max_matrix_bytes guard promises to prevent.
        counts = np.zeros((n_keys, d, w), dtype=np.int64)
        base = codes * w
        cf = None if c is None else c.astype(np.float64)  # exact below 2^53
        for i in range(d):
            with np.errstate(over="ignore"):
                col = ((h1 + np.uint64(i) * h2) & _SIGN_MASK) % np.uint64(w)
            idx = base + col.astype(np.int64)
            slab = np.bincount(idx, weights=cf, minlength=n_keys * w)
            counts[:, i, :] = slab.reshape(n_keys, w)
        totals = np.bincount(codes, weights=cf, minlength=n_keys).astype(np.int64)
        blobs = _pack_cms_rows(uniq, counts, totals, epsilon, delta, funnel)
        yield pa.RecordBatch.from_arrays(
            [uniq, blobs, pa.array(totals)], names=["key", "sketch", "n"]
        )

    return fn


def grouped_cms(
    df: DataFrame,
    key: str,
    col: str,
    epsilon: float = 0.005,
    delta: float = 0.01,
    partitions: int | None = None,
    max_matrix_bytes: int = 1 << 31,
    assume_colocated: bool = False,
    prehash: bool = False,
) -> DataFrame:
    """Per-key CmsSketch at high key cardinality → (key, sketch, n) with
    blobs byte-identical to a local ``CmsSketch`` build of the same group.

    A hot key (the shared driver's skew probe, 4096 rows per input
    partition) takes a map-side stage that collapses duplicate (key, value)
    rows into weighted updates, so the shuffle is bounded by the
    per-partition DISTINCT values of each key rather than its row count;
    otherwise hashing and the build share one Python stage after the
    exchange. Blobs are byte-identical either way.
    ``assume_colocated=True`` skips the repartition — correct when the
    input is already partitioned by ``key`` (bucketed read, upstream
    repartition); the grouped build then has ZERO shuffle.

    ``prehash=True`` hashes the value column JVM-SIDE with ``xxhash64`` —
    no Python stage before the shuffle, and a wide value column never
    crosses the JVM↔Python boundary (8 B/row + key do). The depth hashes
    derive as (h1, fmix64(h1 ^ salt)): CMS needs only pairwise-uniform
    bucket rows, which any uniform 64-bit h1 provides, so the ε/δ bound
    is unchanged. Blobs carry FUNNEL_PREHASHED and refuse to merge with
    murmur3-funnel blobs (different bucket domains); probe them with
    hashes, e.g. ``sk.estimate(xxhash64-values)`` or SQL
    ``cms_freq(sketch, xxhash64(item))``. Nulls are dropped JVM-side."""
    funnel = (
        FUNNEL_PREHASHED if prehash else funnel_for_spark_type(df.schema[col].dataType)
    )
    from_hashes = _build_stage(epsilon, delta, funnel, max_matrix_bytes)
    kind = GroupedKind(
        "sketch binary, n bigint",
        _build_stage(epsilon, delta, funnel, max_matrix_bytes, _hash_pairs),
        probe_rows=4096,
        combine=_combine,
        combined="h1 bigint, h2 bigint, c bigint",
        merge=from_hashes,
        hashed=from_hashes,
    )
    return grouped_build(
        df, key, col, kind, partitions=partitions,
        assume_colocated=assume_colocated, prehash=prehash, rename=False,
    )
