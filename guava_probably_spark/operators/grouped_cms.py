"""High-cardinality grouped Count-Min: one frequency sketch per key,
vectorized across ALL keys in a partition (the frequency sibling of
operators/grouped_hll.py — same one-stage plan, one scatter pass).

Why: `build_grouped` with a CMS spec builds one sketch object per group in a
Python loop — wrong at 10^6+ keys. CMS counts are additive, so every group in a
partition can be updated simultaneously:

  1. project (key, value) in the JVM; by default one sampled skew probe
     (grouped_kll._skew_probe, threshold 4096 rows per input partition, as
     grouped_mode) decides whether any key is hot;
  2. repartition(key): the one unavoidable shuffle, into
     ``defaultParallelism`` partitions (one wave of Python tasks) unless
     ``partitions`` is given (_arrow_common.repartition_by_key);
  3. ONE mapInArrow per partition: murmur3-hash the values → (h1, h2),
     dictionary-encode keys → codes; bucket index per depth is
     ((h1 + i·h2) & SIGN) mod w (identical arithmetic to
     sketches/cms.py:_buckets); ONE np.bincount per depth over the
     flattened (code, bucket) index updates every group's d×w matrix.

With a hot key (or ``pre_reduce=True``) a map-side stage hashes first and
collapses duplicate (key, value) rows into a count, so a hot key ships its
DISTINCT values per input partition, not its row set. Without one, the
exchange carries every (key, value) row once — no Python runs before it.

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

from pyspark.sql import DataFrame, functions as F

from ..sketches.base import KIND_CMS, MAGIC, VERSION, Sketch
from ..sketches.cms import _SIGN_MASK, cms_geometry
from ._arrow_common import funnel_for_spark_type, repartition_by_key

_HASH2_SCHEMA_SUFFIX = "h1 bigint, h2 bigint, c bigint"


def _hash2_prereduce_stage(col_idx: int):
    """Hash + map-side duplicate collapse: per (key, value) one output row
    carrying the pair's multiplicity. CMS updates are weighted-additive, so
    (h1, h2, c) reproduces c identical updates exactly."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ._arrow_common import gather_keyed_hashes, sort_dedup_key_hash

        gathered = gather_keyed_hashes(batches, col_idx, with_h2=True)
        if gathered is None:
            return
        uniq, codes, h1, h2 = gathered
        # collapse duplicate (key, h1) runs; h2 rides along (same value ⇒
        # same 128-bit hash, and a 64-bit h1 collision within one key is
        # harmless — CMS would over-count that bucket pair identically)
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

    return fn


def _hash2_stage(col_idx: int):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..sketches.base import hash_column

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
            ones = np.ones(len(val), dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [key_arr, pa.array(h1.view(np.int64)), pa.array(h2.view(np.int64)), pa.array(ones)],
                names=["k", "h1", "h2", "c"],
            )

    return fn


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
    prehashed: bool = False,
):
    w, d = cms_geometry(epsilon, delta)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts, h1_parts, h2_parts, c_parts = [], [], [], []
        for batch in batches:
            keys_parts.append(batch.column(0))
            h1_parts.append(batch.column(1).to_numpy(zero_copy_only=False))
            if not prehashed:
                h2_parts.append(batch.column(2).to_numpy(zero_copy_only=False))
                c_parts.append(batch.column(3).to_numpy(zero_copy_only=False))
        if not keys_parts:
            return
        keys = pa.chunked_array(keys_parts).combine_chunks()
        h1 = np.concatenate(h1_parts).view(np.uint64)
        if prehashed:
            # input is (k, h1=xxhash64) only: the depth rows need a second
            # independent hash — derive it from h1 (uniform 64-bit) with the
            # shared salt+fmix rule so local CmsSketch(funnel=PREHASHED)
            # builds/probes land in the SAME buckets (blob byte-identity)
            from ..sketches.cms import prehash_pair

            h1, h2 = prehash_pair(h1)
            c = np.ones(len(h1), dtype=np.int64)
        else:
            h2 = np.concatenate(h2_parts).view(np.uint64)
            c = np.concatenate(c_parts).astype(np.int64)
        from ._arrow_common import encode_keys

        uniq, codes = encode_keys(keys)
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
        cf = c.astype(np.float64)  # exact for counts < 2^53
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
    pre_reduce: bool | str | None = "auto",
    max_matrix_bytes: int = 1 << 31,
    assume_colocated: bool = False,
    prehash: bool = False,
) -> DataFrame:
    """Per-key CmsSketch at high key cardinality → (key, sketch, n) with
    blobs byte-identical to a local ``CmsSketch`` build of the same group.

    ``pre_reduce=True`` collapses duplicate (key, value) rows map-side into
    weighted updates, so the shuffle is bounded by the per-partition
    DISTINCT values of each key rather than its row count. The default
    ``"auto"`` (``None`` means the same) runs grouped_kll's memoized
    sampled skew probe with a 4096-row threshold and takes that combine
    only when some key is hot; otherwise hashing and the build share one
    Python stage after the exchange. Blobs are byte-identical either way.
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
    ``cms_freq(sketch, xxhash64(item))``. Nulls are dropped JVM-side.
    Under prehash ``"auto"`` resolves to False; ``pre_reduce=True``
    raises."""

    key_type = df.schema[key].dataType.simpleString()
    narrow = df.select(F.col(key).alias("k"), F.col(col).alias("v"))
    if pre_reduce in (None, "auto"):
        from .grouped_kll import _skew_probe

        pre_reduce = not (prehash or assume_colocated) and _skew_probe(narrow, 4096)
    if prehash and pre_reduce:
        raise ValueError("prehash and pre_reduce are mutually exclusive")
    funnel = funnel_for_spark_type(df.schema[col].dataType)
    if prehash:
        from ..sketches.base import FUNNEL_PREHASHED

        rows = (
            df.where(F.col(col).isNotNull())
            .select(F.col(key).alias("k"), F.xxhash64(col).alias("h1"))
        )
        build = _build_stage(
            epsilon, delta, FUNNEL_PREHASHED, max_matrix_bytes, prehashed=True
        )
    elif pre_reduce:
        rows = narrow.mapInArrow(
            _hash2_prereduce_stage(1), f"k {key_type}, {_HASH2_SCHEMA_SUFFIX}"
        )
        build = _build_stage(epsilon, delta, funnel, max_matrix_bytes)
    else:
        rows = narrow
        stage = _build_stage(epsilon, delta, funnel, max_matrix_bytes)
        build = lambda it, h=_hash2_stage(1), b=stage: b(h(it))
    colocated = rows if assume_colocated else repartition_by_key(rows, partitions)
    return colocated.mapInArrow(build, f"key {key_type}, sketch binary, n bigint")
