"""High-cardinality grouped HLL: vectorized across ALL keys in a partition.

The north-star grouped query is per-conv_id distinct counts with ~10^8
conv_ids (BASELINE.json).  ``applyInPandas`` costs ~1 ms of Python per group
— 10^8 groups is a day of pure overhead.  This operator instead runs one
Python stage after one key exchange (the plan grouped_kll, grouped_cms and
grouped_theta share):

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
of every row. Shuffle-bound callers pass ``pre_reduce=True`` (a map-side
register combine: ≤ m + 1 rows per key and input partition) or
``prehash=True`` (JVM xxhash64, 8 bytes per row and no Python before the
exchange). ``pre_reduce="auto"`` lets grouped_kll's sampled skew probe
(threshold 2^p rows per input partition) pick the combine only when some
key is hot; it is not the default here, because the probe is one more
eager job on every new input and no measured hot-key workload shows yet
that it pays for itself on HLL.

Output: (key, sketch binary, n bigint) or (key, estimate double, n bigint)
with the estimator evaluated vectorized across the whole key matrix.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..sketches.base import MAGIC, VERSION, KIND_HLL
from ..sketches.hll import _alpha, _leading_zero_rho
from ._arrow_common import funnel_for_spark_type, repartition_by_key


def _hash_stage(col_idx: int):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..sketches.base import hash_column

        for batch in batches:
            key_arr = batch.column(0)
            val = batch.column(col_idx)
            # hash per row; null values hash to nothing → drop those rows
            mask = val.is_valid() if val.null_count else None
            if mask is not None:
                keep = mask
                key_arr = key_arr.filter(keep)
                val = val.drop_null()
            if len(val) == 0:
                continue
            _, h1, _ = hash_column(val)
            yield pa.RecordBatch.from_arrays(
                [key_arr, pa.array(h1.view(np.int64))], names=["k", "h"]
            )

    return fn


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


def _prereduce_stage(col_idx: int, p: int):
    """Map-side combine: per input partition, collapse rows to one
    (key, register, max rho) triple per touched register plus one
    (key, -1, count) row. Caps ANY key's shuffle contribution at m rows per
    input partition — a 10^9-row hot conversation ships ≤ m (=2^p) register
    rows instead of 10^9 hash rows; duplicate-heavy inputs shrink
    proportionally. This is the partial-aggregation step Spark's pandas
    UDAFs lack (SURVEY.md §3.4), done by hand on the register domain."""
    m = np.int64(1 << p)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ._arrow_common import gather_keyed_hashes

        gathered = gather_keyed_hashes(batches, col_idx)
        if gathered is None:
            return
        uniq, codes, h1, _ = gathered
        shift = np.uint64(64 - p)
        reg = (h1 >> shift).astype(np.int64)
        rho = _leading_zero_rho(h1 << np.uint64(p), 64 - p).astype(np.int64)
        # per-(code, reg) max via one sort (rho in the low 6 bits)
        combined = ((codes * m + reg) << np.int64(6)) | rho
        combined.sort()
        ck = combined >> np.int64(6)
        last = np.empty(len(ck), dtype=bool)
        if len(ck) > 1:
            np.not_equal(ck[1:], ck[:-1], out=last[:-1])
        last[-1] = True
        ucode = (ck[last] // m).astype(np.int64)
        ureg = (ck[last] % m).astype(np.int32)
        urho = (combined[last] & np.int64(63)).astype(np.int64)
        counts = np.bincount(codes, minlength=len(uniq)).astype(np.int64)
        out_keys = pa.concat_arrays(
            [uniq.take(pa.array(ucode)), uniq]
        )
        out_reg = np.concatenate([ureg, np.full(len(uniq), -1, dtype=np.int32)])
        out_v = np.concatenate([urho, counts])
        yield pa.RecordBatch.from_arrays(
            [out_keys, pa.array(out_reg), pa.array(out_v)], names=["k", "reg", "v"]
        )

    return fn


def _build_stage_reduced(p: int, output: str, funnel: int = 1):
    """Build stage over pre-reduced (key, reg, v) rows: max-scatter register
    rows, sum count rows. Registers are identical to the direct path, so
    blobs stay byte-compatible."""
    m = 1 << p

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts = []
        reg_parts = []
        v_parts = []
        for batch in batches:
            keys_parts.append(batch.column(0))
            reg_parts.append(batch.column(1).to_numpy(zero_copy_only=False))
            v_parts.append(batch.column(2).to_numpy(zero_copy_only=False))
        if not keys_parts:
            return
        keys = pa.chunked_array(keys_parts).combine_chunks()
        reg = np.concatenate(reg_parts).astype(np.int64)
        v = np.concatenate(v_parts).astype(np.int64)
        from ._arrow_common import encode_keys

        uniq, codes = encode_keys(keys)
        k = len(uniq)
        is_cnt = reg < 0
        counts = np.zeros(k, dtype=np.int64)
        np.add.at(counts, codes[is_cnt], v[is_cnt])
        regs = np.zeros(k * m, dtype=np.uint8)
        rr = ~is_cnt
        np.maximum.at(regs, codes[rr] * m + reg[rr], v[rr].astype(np.uint8))
        regs = regs.reshape(k, m)
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


def _build_stage(p: int, output: str, funnel: int = 1):
    m = 1 << p

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts = []
        h_parts = []
        for batch in batches:
            keys_parts.append(batch.column(0))
            h_parts.append(batch.column(1).to_numpy(zero_copy_only=False))
        if not keys_parts:
            return
        keys = pa.chunked_array(keys_parts).combine_chunks()
        h1 = np.concatenate(h_parts).view(np.uint64)

        # factorize keys (arrow dictionary_encode: C++-speed grouping)
        from ._arrow_common import encode_keys

        uniq, codes = encode_keys(keys)
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


def _hash_stage_files(key: str, col: str):
    """Python-native scan variant of _hash_stage: tasks receive FILE GROUPS
    and decode the (key, col) column pages directly with pyarrow — zero
    JVM→Python Arrow IPC for the wide value column (the measured 3-6×
    bottleneck of the JVM-scan grouped build; see operators/build.py)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from ..sketches.base import hash_column

        for batch in batches:
            for file_path in batch.column(0).flatten().to_pylist():
                table = pq.read_table(
                    file_path.removeprefix("file:"), columns=[key, col], use_threads=False
                )
                for rb in table.to_batches(max_chunksize=16384):
                    key_arr = rb.column(0)
                    val = rb.column(1)
                    if val.null_count:
                        keep = val.is_valid()
                        key_arr = key_arr.filter(keep)
                        val = val.drop_null()
                    if len(val) == 0:
                        continue
                    _, h1, _ = hash_column(val)
                    yield pa.RecordBatch.from_arrays(
                        [key_arr, pa.array(h1.view(np.int64))], names=["k", "h"]
                    )

    return fn


_ARROW_TO_DDL = {
    "int64": "bigint", "int32": "int", "int16": "smallint",
    "string": "string", "large_string": "string",
    "double": "double", "float": "float",
}


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

    from ._arrow_common import funnel_for_arrow_type
    from .filetasks import list_input_files, plan_file_tasks

    files = list_input_files(spark, input_path)
    sch = pq.read_schema(files[0].removeprefix("file:"))
    key_type = _ARROW_TO_DDL[str(sch.field(key).type)]
    funnel = funnel_for_arrow_type(sch.field(col).type)
    hashed = plan_file_tasks(spark, files).mapInArrow(
        _hash_stage_files(key, col), f"k {key_type}, h bigint"
    )
    colocated = repartition_by_key(hashed, partitions)
    if output == "estimate":
        schema = f"key {key_type}, estimate double, n bigint"
    else:
        schema = f"key {key_type}, sketch binary, n bigint"
    return colocated.mapInArrow(_build_stage(p, output, funnel), schema).withColumnRenamed(
        "key", key
    )


def grouped_hll(
    df: DataFrame,
    key: str,
    col: str,
    p: int = 14,
    output: str = "sketch",
    partitions: int | None = None,
    pre_reduce: bool | str | None = False,
    assume_colocated: bool = False,
    prehash: bool = False,
) -> DataFrame:
    """Per-key HLL at high key cardinality. output='sketch' → (key, sketch,
    n) with blobs byte-compatible with the ungrouped HllSketch build;
    output='estimate' → (key, estimate, n).

    pre_reduce=True inserts a map-side combine on the register domain: the
    shuffle carries ≤ m register rows + 1 count row per (key, input
    partition) instead of one row per input row — the skew/duplicate
    armor (a 10^9-row hot key ships ≤ 2^p rows per source partition).
    The default False is the one-stage plan: hashing and the build share
    one Python stage after the exchange. "auto" (``None`` means the same,
    as in grouped_cms and grouped_theta) runs grouped_kll's memoized
    sampled skew probe with a 2^p-row threshold and takes the armor only
    when some key is hot. Blobs are byte-identical either way. NOTE:
    "auto" runs one eager sampled job over the input lineage at
    plan-construction time.
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
    as one distinct value). Under prehash "auto" resolves to False;
    pre_reduce=True (whose map-side combine hashes in Python) raises."""
    if output not in ("sketch", "estimate"):
        raise ValueError("output must be 'sketch' or 'estimate'")
    key_type = df.schema[key].dataType.simpleString()
    funnel = funnel_for_spark_type(df.schema[col].dataType)
    narrow = df.select(F.col(key).alias("k"), F.col(col).alias("v"))
    if pre_reduce in (None, "auto"):
        from .grouped_kll import _skew_probe

        pre_reduce = not (prehash or assume_colocated) and _skew_probe(narrow, 1 << p)
    if prehash and pre_reduce:
        raise ValueError("prehash and pre_reduce are mutually exclusive")
    if prehash:
        from ..sketches.base import FUNNEL_PREHASHED

        funnel = FUNNEL_PREHASHED
        rows = (
            df.where(F.col(col).isNotNull())
            .select(F.col(key).alias("k"), F.xxhash64(col).alias("h"))
        )
        build = _build_stage(p, output, funnel)
    elif pre_reduce:
        rows = narrow.mapInArrow(
            _prereduce_stage(1, p), f"k {key_type}, reg int, v bigint"
        )
        build = _build_stage_reduced(p, output, funnel)
    else:
        rows = narrow
        build = lambda it, h=_hash_stage(1), b=_build_stage(p, output, funnel): b(h(it))
    colocated = rows if assume_colocated else repartition_by_key(rows, partitions)
    if output == "estimate":
        schema = f"key {key_type}, estimate double, n bigint"
    else:
        schema = f"key {key_type}, sketch binary, n bigint"
    return colocated.mapInArrow(build, schema).withColumnRenamed("key", key)
