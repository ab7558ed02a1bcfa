"""High-cardinality grouped HLL: vectorized across ALL keys in a partition.

The north-star grouped query is per-conv_id distinct counts with ~10^8
conv_ids (BASELINE.json).  ``applyInPandas`` costs ~1 ms of Python per group
— 10^8 groups is a day of pure overhead.  This operator instead runs one
Python stage after one key exchange (the plan of the shared driver,
_arrow_common.grouped_build):

  1. project (key, value) in the JVM;
  2. repartition(key): every key's rows land in exactly one partition, in
     ``defaultParallelism`` partitions (one wave of Python tasks) unless
     ``partitions`` is given (_arrow_common.repartition_by_key);
  3. ONE mapInArrow per partition: murmur3-hash the values, np.unique(keys)
     → code per row, ONE ``np.maximum.at`` scatter into a (n_keys × m)
     register matrix that updates every group at once; registers are
     6-bit-packed row-wise and emitted as standard HllSketch blobs
     (byte-compatible with the ungrouped build — merging all group blobs
     reproduces the global blob exactly).

The trade: the exchange carries the raw value (e.g. ~230-byte turn text)
instead of an 8-byte hash — 2.3 MB against 0.4 MB of shuffle writes on the
25k-turn benchmark — to save a whole Python stage and an Arrow round trip
of every row. Shuffle-bound callers pass ``prehash=True`` (JVM xxhash64,
8 bytes per row and no Python before the exchange). HLL never runs the
driver's skew probe: the probe is one more eager job on every new input,
and no measured hot-key workload shows yet that a register combine pays
for itself.

Output: (key, sketch binary, n bigint) or (key, estimate double, n bigint)
with the estimator evaluated vectorized across the whole key matrix.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..sketches.base import FUNNEL_PREHASHED, KIND_HLL, MAGIC, VERSION
from ..sketches.hll import _alpha, _leading_zero_rho
from ._arrow_common import (
    GroupedKind,
    funnel_for_spark_type,
    gather_keyed,
    grouped_build,
    hash_values,
    int64_columns,
)


def _pack_registers_matrix(
    regs: np.ndarray, p: int, funnel: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """(K, m) uint8 registers → concatenated blob buffer + offsets, each row a
    standard HllSketch blob (byte-identical to ``HllSketch.to_bytes()`` of the
    same registers — verified by test). Emits the adaptive payload: sparse
    (tag 2, u16 idx + u8 rho) for low-load rows, tagged dense otherwise —
    at ~10 turns/conv a p=12 group blob is ~50 B instead of 3 KB, which is
    what keeps a 10^8-conv sketch table shuffle/storage-feasible."""
    if p > 16:
        raise ValueError("grouped packer supports p <= 16 (u16 sparse indexes)")
    k, m = regs.shape
    dense_len = (m // 4) * 3
    # funnel byte must match the column the hashes came from, or these
    # blobs refuse to merge with the ungrouped build of the same column
    header = MAGIC + struct.pack("<BBBB", VERSION, KIND_HLL, funnel, 0) + struct.pack("<I", 1) + struct.pack("<B", p)
    head = np.frombuffer(header, dtype=np.uint8)
    hl = len(head)

    nnz = np.count_nonzero(regs, axis=1).astype(np.int64)
    sparse_sz = 5 + 3 * nnz
    use_sparse = sparse_sz < dense_len
    row_size = hl + np.where(use_sparse, sparse_sz, 1 + dense_len)
    offsets = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(row_size, out=offsets[1:])
    total = int(offsets[-1])
    buf = np.zeros(total, dtype=np.uint8)

    # headers (vectorized broadcast write)
    hdr_pos = offsets[:-1, None] + np.arange(hl, dtype=np.int64)
    buf[hdr_pos.reshape(-1)] = np.broadcast_to(head, (k, hl)).reshape(-1)

    rows_s = np.flatnonzero(use_sparse)
    if len(rows_s):
        base = offsets[rows_s] + hl  # payload start
        cnt = nnz[rows_s]
        buf[base] = 2  # sparse-u16 tag
        for i in range(4):
            buf[base + 1 + i] = ((cnt >> (8 * i)) & 0xFF).astype(np.uint8)
        sub = regs[rows_s]
        r_idx, c_idx = np.nonzero(sub)
        starts = np.zeros(len(rows_s) + 1, dtype=np.int64)
        np.cumsum(cnt, out=starts[1:])
        rank = np.arange(len(c_idx), dtype=np.int64) - np.repeat(starts[:-1], cnt)
        ebase = base[r_idx]
        pos = ebase + 5 + 2 * rank
        buf[pos] = (c_idx & 0xFF).astype(np.uint8)
        buf[pos + 1] = ((c_idx >> 8) & 0xFF).astype(np.uint8)
        buf[ebase + 5 + 2 * cnt[r_idx] + rank] = sub[r_idx, c_idx]

    rows_d = np.flatnonzero(~use_sparse)
    for s in range(0, len(rows_d), 512):  # block-wise: uint32 temp is 4x regs
        blk_rows = rows_d[s : s + 512]
        r = regs[blk_rows].astype(np.uint32).reshape(-1, m // 4, 4)
        word = r[..., 0] | (r[..., 1] << 6) | (r[..., 2] << 12) | (r[..., 3] << 18)
        blk = np.empty(word.shape + (3,), dtype=np.uint8)
        blk[..., 0] = word & 0xFF
        blk[..., 1] = (word >> 8) & 0xFF
        blk[..., 2] = (word >> 16) & 0xFF
        buf[offsets[blk_rows] + hl] = 0  # dense tag
        pos = offsets[blk_rows][:, None] + hl + 1 + np.arange(dense_len, dtype=np.int64)
        buf[pos.reshape(-1)] = blk.reshape(len(blk_rows), -1).reshape(-1)

    if total >= 1 << 31:
        raise ValueError("partition blob buffer exceeds BinaryArray offset range")
    return buf, offsets.astype(np.int32)


def _estimate_matrix(regs: np.ndarray, m: int) -> np.ndarray:
    """Vectorized HLL estimator over a (K, m) register matrix.

    Processed in key blocks: the float64 2^-reg intermediate is 8× the
    register matrix — a whole-partition pass materializes ~400 MB per worker
    (×32 workers = page-thrash); 512-key blocks stay cache-sized."""
    k = regs.shape[0]
    out = np.empty(k, dtype=np.float64)
    alpha = _alpha(m)
    for s in range(0, k, 512):
        block = regs[s : s + 512]
        pow2 = np.exp2(-block.astype(np.float64))
        raw = alpha * m * m / pow2.sum(axis=1)
        zeros = (block == 0).sum(axis=1)
        lc_ok = (raw <= 2.5 * m) & (zeros > 0)
        with np.errstate(divide="ignore"):
            raw[lc_ok] = m * np.log(m / zeros[lc_ok])
        out[s : s + 512] = raw
    return out


def _build_stage(p: int, output: str, funnel: int, front=int64_columns):
    """The register build over one partition: ``front`` turns its batches
    into (keys, h1) — (k, hash) rows by default, raw (k, v) rows through
    :func:`hash_values`."""
    m = 1 << p

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gathered = gather_keyed(front(batches))
        if gathered is None:
            return
        uniq, codes, h1 = gathered[:3]
        h1 = h1.view(np.uint64)
        k = len(uniq)

        shift = np.uint64(64 - p)
        reg_idx = (h1 >> shift).astype(np.int64)
        rho = _leading_zero_rho(h1 << np.uint64(p), 64 - p)
        regs = np.zeros(k * m, dtype=np.uint8)
        np.maximum.at(regs, codes * m + reg_idx, rho)  # ALL groups, one scatter
        regs = regs.reshape(k, m)
        counts = np.bincount(codes, minlength=k).astype(np.int64)

        if output == "estimate":
            est = _estimate_matrix(regs, m)
            yield pa.RecordBatch.from_arrays(
                [uniq, pa.array(est), pa.array(counts)], names=["key", "estimate", "n"]
            )
        else:
            buf, offsets = _pack_registers_matrix(regs, p, funnel)
            blobs = pa.BinaryArray.from_buffers(
                pa.binary(), k, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf.tobytes())]
            )
            yield pa.RecordBatch.from_arrays(
                [uniq, blobs, pa.array(counts)], names=["key", "sketch", "n"]
            )

    return fn


def _schema(output: str) -> str:
    if output == "estimate":
        return "estimate double, n bigint"
    if output == "sketch":
        return "sketch binary, n bigint"
    raise ValueError("output must be 'sketch' or 'estimate'")


def _hash_stage_files(key: str, col: str):
    """Python-native scan in front of the register build: tasks receive
    FILE GROUPS and decode the (key, col) column pages directly with
    pyarrow — zero JVM→Python Arrow IPC for the wide value column (the
    measured 3-6× bottleneck of the JVM-scan grouped build; see
    operators/build.py). Emits (k, v = murmur3 h1) rows."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for batch in batches:
            for file_path in batch.column(0).flatten().to_pylist():
                table = pq.read_table(
                    file_path.removeprefix("file:"), columns=[key, col], use_threads=False
                )
                for keys, h1, _ in hash_values(table.to_batches(max_chunksize=16384)):
                    yield pa.RecordBatch.from_arrays(
                        [keys, pa.array(h1.view(np.int64))], names=["k", "v"]
                    )

    return fn


def grouped_hll_files(
    spark,
    input_path: str,
    key: str,
    col: str,
    p: int = 14,
    output: str = "sketch",
    partitions: int | None = None,
) -> DataFrame:
    """grouped_hll over a parquet path with the python-native file scan:
    workers read the column pages directly (files spread round-robin over
    one wave of tasks, see operators.filetasks), so the wide value column never
    crosses the JVM↔Python boundary. Measured ~3× the JVM-scan grouped path
    on 8M transcript rows; blobs identical."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    from ._arrow_common import funnel_for_arrow_type
    from .filetasks import list_input_files, plan_file_tasks

    files = list_input_files(spark, input_path)
    sch = pq.read_schema(files[0].removeprefix("file:"))
    key_type = from_arrow_type(sch.field(key).type).simpleString()
    funnel = funnel_for_arrow_type(sch.field(col).type)
    hashed = plan_file_tasks(spark, files).mapInArrow(
        _hash_stage_files(key, col), f"k {key_type}, v bigint"
    )
    kind = GroupedKind(_schema(output), _build_stage(p, output, funnel))
    out = grouped_build(hashed, "k", "v", kind, partitions=partitions, rename=False)
    return out.withColumnRenamed("key", key)


def grouped_hll(
    df: DataFrame,
    key: str,
    col: str,
    p: int = 14,
    output: str = "sketch",
    partitions: int | None = None,
    assume_colocated: bool = False,
    prehash: bool = False,
) -> DataFrame:
    """Per-key HLL at high key cardinality. output='sketch' → (key, sketch,
    n) with blobs byte-compatible with the ungrouped HllSketch build;
    output='estimate' → (key, estimate, n).

    One Python stage after the exchange hashes and builds (the shared
    driver, _arrow_common.grouped_build); HLL runs no skew probe, so a hot
    key's rows all reach one reduce task, hashed there.
    assume_colocated=True skips the repartition entirely — correct when the
    input is already partitioned by `key` (bucketed table read, upstream
    repartition); the grouped build then has ZERO shuffle.

    prehash=True hashes the value column JVM-SIDE with ``xxhash64`` and
    feeds the 64-bit hash straight into the register build: no Python
    stage runs before the shuffle at all, and a wide value column (e.g.
    ~230-byte turn text) never crosses the JVM↔Python boundary — 16 bytes
    per row do. The estimate is statistically identical (xxhash64 is a
    uniform 64-bit hash; collision mass at 10^10 values is ≤ 10^-9 of the
    estimate, far under the 1.04/√m bound), but blobs carry the
    FUNNEL_PREHASHED tag and refuse to merge with murmur3-funnel blobs of
    the same column — the register domains differ. Null values are dropped
    first (Spark's xxhash64 maps NULL to the seed, which would count nulls
    as one distinct value)."""
    funnel = (
        FUNNEL_PREHASHED if prehash else funnel_for_spark_type(df.schema[col].dataType)
    )
    kind = GroupedKind(
        _schema(output),
        _build_stage(p, output, funnel, hash_values),
        hashed=_build_stage(p, output, funnel),
    )
    return grouped_build(
        df, key, col, kind, partitions=partitions,
        assume_colocated=assume_colocated, prehash=prehash,
    )
