"""Distributed sketch build: mapInArrow partials + treeAggregate-style merge.

THE load-bearing design decision (SURVEY.md §3.4): PySpark pandas GROUPED_AGG
UDAFs perform NO partial aggregation — a naive pandas UDAF would shuffle all
raw rows (10^12 turns at design scale). Instead:

  scan → select(col) → mapInArrow(build partial per partition)   [no shuffle]
  → repartition(P/fanin) → mapInArrow(merge)  … repeated         [shuffles
    only sketch blobs, KB-sized]
  → driver merges the ≤fanin survivors

Raw data is scanned exactly once and never shuffled.  Column pruning pushes
through mapInArrow because we select the hashed column first (verified by
plans.assert_no_raw_shuffle / tests).

Grouped (per-key) sketches of any kind (``build_grouped``) run the shared
grouped plan: one key exchange, a JVM sort of each reduce partition by key,
and one Python stage that streams the sorted rows into one sketch per key.
"""

from __future__ import annotations

import math
import time
import warnings
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..sketches import Sketch, SketchSpec
from ..sketches.base import FUNNEL_NONE, FUNNEL_PREHASHED, hash_column
from ._arrow_common import repartition_by_key
from .filetasks import list_input_files, plan_file_tasks

PARTIAL_SCHEMA = "sketch binary, n bigint, overflow bigint, part_id bigint, secs double"
_PARTIAL_ARROW = pa.schema(
    [
        ("sketch", pa.binary()),
        ("n", pa.int64()),
        ("overflow", pa.int64()),
        ("part_id", pa.int64()),
        ("secs", pa.float64()),
    ]
)


def _merge_into(acc: Sketch, other: Sketch, dedup: bool = True) -> int:
    """Merge other into acc; returns overflow count (cuckoo only).
    ``dedup`` is the cuckoo merge semantics (see CuckooSketch.merge_counted)
    and must match the build's ``dedup_build`` — a multiset (delete-capable)
    build merged with set-union would collapse copies split across
    partitions."""
    from ..sketches import CuckooSketch

    if isinstance(acc, CuckooSketch):
        _, overflow = acc.merge_counted(other, dedup=dedup)
        return overflow
    acc.merge(other)
    return 0


def _spec_dedup(spec: SketchSpec) -> bool:
    """The cuckoo build/merge dedup semantics a spec asks for (True unless
    the spec opts into multiset delete-workflow builds)."""
    return bool(spec.params.get("dedup_build", True))


_FOLD_DECODE_THREADS = 8
_FOLD_DECODE_MIN_ROWS = 8


def fold_sketch_rows(rows, dedup: bool = True) -> tuple[Sketch | None, int, int]:
    """THE sketch-row fold: (blob-or-Sketch, n, overflow) triples →
    (merged sketch | None, total n, total overflow). Every partial/driver
    merge loop in the library goes through here so overflow accounting has
    one definition. ``dedup`` follows the build's semantics (_spec_dedup).

    Decode runs in a small thread pool when there are enough blob rows:
    ``Sketch.from_bytes`` is dominated by ``zlib.decompress`` + numpy
    buffer work, both of which release the GIL — measured 5× on the
    headline job's driver fold (64 × ~1 MB bloom partials: 1.1 s → 0.2 s).
    Merge order is unchanged (decode is pure; the sequential fold below
    consumes decoded sketches in the input order)."""
    rows = list(rows) if not isinstance(rows, list) else rows
    blob_count = sum(1 for r in rows if not isinstance(r[0], Sketch))
    blob_bytes = sum(
        len(r[0]) for r in rows if isinstance(r[0], (bytes, bytearray))
    )
    # pool spin-up (~1 ms) must not tax small folds — rolling_merge folds
    # ≤window KB-blobs PER OUTPUT ROW through here
    if blob_count >= _FOLD_DECODE_MIN_ROWS and blob_bytes >= 4_000_000:
        from concurrent.futures import ThreadPoolExecutor

        def decode(r):
            blob, cnt, ov = r
            sk = blob if isinstance(blob, Sketch) else Sketch.from_bytes(blob)
            return sk, cnt, ov

        with ThreadPoolExecutor(max_workers=_FOLD_DECODE_THREADS) as pool:
            rows = list(pool.map(decode, rows))
    acc: Sketch | None = None
    n = 0
    overflow = 0
    for blob, cnt, ov in rows:
        sk = blob if isinstance(blob, Sketch) else Sketch.from_bytes(blob)
        if acc is None:
            acc = sk
        else:
            overflow += _merge_into(acc, sk, dedup=dedup)
        n += cnt
        overflow += ov
    return acc, n, overflow


def _ingest_overflow(sk: Sketch, column) -> int:
    """One column batch into ``sk`` via the distributed-build path: hash
    once + set-semantics ingest for hash sketches (funnel bound), raw
    update for value sketches. Returns the capacity-overflow count — a
    cuckoo insert can FAIL at capacity, and dropping that count on the
    build path would be a silent false negative, so it flows into the
    partial's overflow column (bloom bits can't overflow; estimators
    never fail)."""
    ingest = _hash_ingest(sk)
    if ingest is None:
        sk.update(column)
        return 0
    _, h1, h2 = hash_column(column, sk.funnel)
    return int(ingest(h1, h2) or 0)


def _hash_ingest(sk: Sketch):
    """``sk.ingest_hashes`` when a build should murmur3 the column once and
    ingest ``(h1, h2)``; None when the column must go through ``update()``:
    value sketches (FUNNEL_NONE), value-carrying kinds with no hash-only
    ingest (bottomk witnesses, varopt samples), and FUNNEL_PREHASHED, whose
    column already IS the 64-bit hash stream (JVM xxhash64) — update()
    derives (h1, h2) from it; murmur3 re-hashing would silently change the
    register domain."""
    if sk.funnel in (FUNNEL_NONE, FUNNEL_PREHASHED):
        return None
    return getattr(sk, "ingest_hashes", None)


def build_partials(df: DataFrame, col: str, spec: SketchSpec) -> DataFrame:
    """One partial sketch row per input partition; raw rows never shuffle."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        sk = spec.create()
        n = 0
        overflow = 0
        first = True
        for batch in batches:
            column = batch.column(0)
            if first:
                _bind_funnel(sk, column)
                first = False
            overflow += _ingest_overflow(sk, column)
            n += len(column) - column.null_count
        if n == 0:
            return
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        yield pa.RecordBatch.from_pydict(
            {
                "sketch": [sk.to_bytes()],
                "n": [n],
                "overflow": [overflow],
                "part_id": [pid],
                "secs": [time.monotonic() - t0],
            },
            schema=_PARTIAL_ARROW,
        )

    return df.select(col).mapInArrow(fn, PARTIAL_SCHEMA)


def _bind_funnel(sk: Sketch, column: pa.Array) -> None:
    """Auto-bind a hashed sketch's funnel to the column's arrow type on first
    batch (string → UTF8 funnel, int → LONG funnel)."""
    from ..sketches.base import FUNNEL_LONG, FUNNEL_NONE, FUNNEL_PREHASHED, FUNNEL_UTF8

    if sk.funnel in (FUNNEL_NONE, FUNNEL_PREHASHED):
        # value sketch: nothing to bind; prehashed: the int column is the
        # hash stream, NOT a FUNNEL_LONG key column — rebinding would
        # murmur3 the hashes and break byte-parity with the JVM prehash path
        return
    if pa.types.is_integer(column.type):
        sk.funnel = FUNNEL_LONG
    elif pa.types.is_string(column.type) or pa.types.is_large_string(column.type):
        sk.funnel = FUNNEL_UTF8
    elif pa.types.is_binary(column.type) or pa.types.is_large_binary(column.type):
        sk.funnel = FUNNEL_UTF8


def _merge_stage(dedup: bool = True):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.monotonic()
        acc, n, overflow = fold_sketch_rows(
            (
                (blob, cnt, ov)
                for batch in batches
                for blob, cnt, ov in zip(
                    batch.column(0).to_pylist(),
                    batch.column(1).to_pylist(),
                    batch.column(2).to_pylist(),
                )
            ),
            dedup=dedup,
        )
        if acc is None:
            return
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        yield pa.RecordBatch.from_pydict(
            {
                "sketch": [acc.to_bytes()],
                "n": [n],
                "overflow": [overflow],
                "part_id": [pid],
                "secs": [time.monotonic() - t0],
            },
            schema=_PARTIAL_ARROW,
        )

    return fn


def tree_merge(partials: DataFrame, fanin: int = 64, dedup: bool = True) -> DataFrame:
    """treeAggregate-style reduction: log_fanin(P) stages, each shuffling only
    sketch rows (≤1 per partition). ``dedup`` follows the build's cuckoo
    semantics (_spec_dedup)."""
    df = partials
    p = df.rdd.getNumPartitions()
    stage = _merge_stage(dedup)
    while p > fanin:
        p = max(1, math.ceil(p / fanin))
        df = df.repartition(p).mapInArrow(stage, PARTIAL_SCHEMA)
    return df


def collect_sketch(
    df: DataFrame, col: str, spec: SketchSpec, fanin: int = 64
) -> tuple[Sketch, int, int]:
    """End-to-end: build + tree-merge + driver-side final merge.

    Returns (sketch, rows_consumed, merge_overflow_count).
    """
    dedup = _spec_dedup(spec)
    partials = tree_merge(build_partials(df, col, spec), fanin, dedup=dedup)
    rows = partials.collect()
    if not rows:
        return spec.create(), 0, 0
    acc, n, overflow = fold_sketch_rows(
        ((r.sketch, r.n, r.overflow) for r in rows), dedup=dedup
    )
    return acc, n, overflow


def build_weighted_partials(
    df: DataFrame, key_col: str, value_col: str, spec: SketchSpec
) -> DataFrame:
    """One weighted partial per partition for sketches whose ``update``
    takes (keys, weights) — tuple sketch per-key sums, CMS/CountSketch/MG
    weighted frequencies. Null keys are filtered JVM-side so the weight
    column stays aligned with the hashed keys (the sketches raise on a
    length mismatch rather than misalign silently)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        sk = spec.create()
        n = 0
        first = True
        for batch in batches:
            keys = batch.column(0)
            if first:
                _bind_funnel(sk, keys)
                first = False
            if len(keys) == 0:
                continue
            w = batch.column(1).to_numpy(zero_copy_only=False)
            sk.update(keys, weights=w)
            n += len(keys)
        if n == 0:
            return
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        yield pa.RecordBatch.from_pydict(
            {
                "sketch": [sk.to_bytes()],
                "n": [n],
                "overflow": [0],
                "part_id": [pid],
                "secs": [time.monotonic() - t0],
            },
            schema=_PARTIAL_ARROW,
        )

    pruned = df.select(
        F.col(key_col).alias("k"), F.col(value_col).cast("long").alias("w")
    ).filter(F.col("k").isNotNull() & F.col("w").isNotNull())
    return pruned.mapInArrow(fn, PARTIAL_SCHEMA)


def collect_weighted_sketch(
    df: DataFrame, key_col: str, value_col: str, spec: SketchSpec, fanin: int = 64
) -> tuple[Sketch, int, int]:
    """collect_sketch for (key, weight) sketches: same scan-once partials +
    KB-blob tree merge, two columns in. The tuple-sketch entry point —
    ``collect_weighted_sketch(turns, "conv_id", "n_tokens",
    SketchSpec("tuple", {"k": 4096}))`` answers "estimated total tokens
    across distinct conversations" from one blob."""
    partials = tree_merge(
        build_weighted_partials(df, key_col, value_col, spec), fanin
    )
    rows = partials.collect()
    if not rows:
        return spec.create(), 0, 0
    return fold_sketch_rows((r.sketch, r.n, r.overflow) for r in rows)


# ---------------------------------------------------------------------------
# Multi-sketch single-pass build: one scan, many sketches.
# At 100 TB the scan dominates; building HLL+bloom+CMS over the same column
# (or several columns) in one mapInArrow pass costs one read instead of k.
# ---------------------------------------------------------------------------

MULTI_SCHEMA = "name string, sketch binary, n bigint, overflow bigint"
_MULTI_ARROW = pa.schema(
    [
        ("name", pa.string()),
        ("sketch", pa.binary()),
        ("n", pa.int64()),
        ("overflow", pa.int64()),
    ]
)


class _MultiPartial:
    """One task's partial of a multi-target build: per target a sketch, the
    rows it consumed and its overflow count."""

    def __init__(self, targets: list[tuple[str, str, SketchSpec]]):
        self.targets = targets
        self.sks = {name: spec.create() for name, _, spec in targets}
        self.ns = dict.fromkeys(self.sks, 0)
        self.ovs = dict.fromkeys(self.sks, 0)
        self.first = True

    def add(self, column_of) -> None:
        """One batch into every target; ``column_of(c)`` is column ``c``'s
        Arrow array. Hash-ingesting sketches on one column share one hash
        pass — 3 sketches over conv_id = 1 hash."""
        hashed: dict[tuple, tuple] = {}
        for name, c, _ in self.targets:
            column = column_of(c)
            sk = self.sks[name]
            if self.first:
                _bind_funnel(sk, column)
            ingest = _hash_ingest(sk)
            if ingest is None:
                sk.update(column)
            else:
                key = (c, sk.funnel)
                if key not in hashed:
                    hashed[key] = hash_column(column, sk.funnel)[1:]
                self.ovs[name] += int(ingest(*hashed[key]) or 0)
            self.ns[name] += len(column) - column.null_count
        self.first = False

    def batches(self) -> Iterator[pa.RecordBatch]:
        """The partial as one (name, sketch, n, overflow) batch; nothing
        when the task saw no non-null value."""
        if all(v == 0 for v in self.ns.values()):
            return
        names = [name for name, _, _ in self.targets]
        yield pa.RecordBatch.from_pydict(
            {
                "name": names,
                "sketch": [self.sks[name].to_bytes() for name in names],
                "n": [self.ns[name] for name in names],
                "overflow": [self.ovs[name] for name in names],
            },
            schema=_MULTI_ARROW,
        )


def build_partials_multi(
    df: DataFrame, targets: list[tuple[str, str, SketchSpec]]
) -> DataFrame:
    """targets: [(name, column, spec)] → partial rows (name, sketch, n)."""
    cols = list(dict.fromkeys(c for _, c, _ in targets))
    col_idx = {c: i for i, c in enumerate(cols)}

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        part = _MultiPartial(targets)
        for batch in batches:
            part.add(lambda c: batch.column(col_idx[c]))
        yield from part.batches()

    return df.select(*cols).mapInArrow(fn, MULTI_SCHEMA)


def _merge_stage_multi(dedups: dict[str, bool]):
    """``dedups``: per-target cuckoo merge semantics (_spec_dedup)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # repartition(p, "name") routes ALL of a name's rows to one task,
        # so at large executor counts this task merges every partial of
        # its name — decode through the same gated thread pool as
        # fold_sketch_rows (zlib releases the GIL) so a 1000-blob merge
        # isn't serial-decode bound
        rows: list[tuple[str, bytes, int, int]] = []
        for batch in batches:
            rows.extend(
                zip(
                    batch.column(0).to_pylist(),
                    batch.column(1).to_pylist(),
                    batch.column(2).to_pylist(),
                    batch.column(3).to_pylist(),
                )
            )
        if not rows:
            return
        if (
            len(rows) >= _FOLD_DECODE_MIN_ROWS
            and sum(len(r[1]) for r in rows) >= 4_000_000
        ):
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=_FOLD_DECODE_THREADS) as pool:
                decoded = list(pool.map(lambda r: Sketch.from_bytes(r[1]), rows))
        else:
            decoded = [Sketch.from_bytes(r[1]) for r in rows]
        accs: dict[str, Sketch] = {}
        ns: dict[str, int] = {}
        ovs: dict[str, int] = {}
        for (name, _blob, cnt, ov), sk in zip(rows, decoded):
            if name in accs:
                ovs[name] = ovs.get(name, 0) + _merge_into(
                    accs[name], sk, dedup=dedups.get(name, True)
                )
            else:
                accs[name] = sk
            ns[name] = ns.get(name, 0) + cnt
            ovs[name] = ovs.get(name, 0) + ov
        keys = sorted(accs)
        yield pa.RecordBatch.from_pydict(
            {
                "name": keys,
                "sketch": [accs[k].to_bytes() for k in keys],
                "n": [ns[k] for k in keys],
                "overflow": [ovs[k] for k in keys],
            },
            schema=_MULTI_ARROW,
        )

    return fn


def _collect_multi(
    dfm: DataFrame, fanin: int, targets: list[tuple[str, str, SketchSpec]]
) -> dict[str, tuple[Sketch, int, int]]:
    """Tree-merge named partials and fold the collected rows per name."""
    dedups = {name: _spec_dedup(spec) for name, _, spec in targets}
    stage = _merge_stage_multi(dedups)
    p = dfm.rdd.getNumPartitions()
    while p > fanin:
        p = max(1, math.ceil(p / fanin))
        dfm = dfm.repartition(p, "name").mapInArrow(stage, MULTI_SCHEMA)
    grouped: dict[str, list] = {}
    for row in dfm.collect():
        grouped.setdefault(row.name, []).append((row.sketch, row.n, row.overflow))
    return {
        name: fold_sketch_rows(rows, dedup=dedups.get(name, True))
        for name, rows in grouped.items()
    }


def collect_sketches_multi(
    df: DataFrame, targets: list[tuple[str, str, SketchSpec]], fanin: int = 64
) -> dict[str, tuple[Sketch, int, int]]:
    """One scan → {name: (sketch, rows, overflow)} for every target."""
    return _collect_multi(build_partials_multi(df, targets), fanin, targets)


# ---------------------------------------------------------------------------
# Python-native scan path: workers read parquet directly with pyarrow.
# The JVM schedules FILE GROUPS (operators.filetasks); column pages are
# decoded straight into the numpy kernels with zero JVM→Python Arrow IPC —
# the measured bottleneck for wide text columns (the JVM-scan path
# serializes every row across the socket).  pyarrow.fs handles s3://... and
# hdfs://... in production; tasks stay ordinary Spark tasks
# (locality/retry/speculation all apply).
# ---------------------------------------------------------------------------

def build_partials_files_multi(
    spark, files: list[str], targets: list[tuple[str, str, SketchSpec]]
) -> DataFrame:
    cols = list(dict.fromkeys(c for _, c, _ in targets))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        part = _MultiPartial(targets)
        for batch in batches:
            for file_path in batch.column(0).flatten().to_pylist():
                # use_threads=False: 32 parallel workers must not each spin
                # up an internal arrow thread pool (oversubscription)
                table = pq.read_table(
                    file_path.removeprefix("file:"), columns=cols, use_threads=False
                )
                # 16k-row chunks keep hash temporaries cache-resident:
                # measured 2-3x kernel speedup and much better multi-core
                # scaling vs whole-file batches (DRAM-bandwidth bound)
                for rb in table.to_batches(max_chunksize=16384):
                    part.add(lambda c: rb.column(rb.schema.get_field_index(c)))
        yield from part.batches()

    return plan_file_tasks(spark, files).mapInArrow(fn, MULTI_SCHEMA)


def collect_sketches_files(
    spark,
    input_path: str,
    targets: list[tuple[str, str, SketchSpec]],
    fanin: int = 64,
) -> dict[str, tuple[Sketch, int, int]]:
    """File-granular multi-sketch build: list files → one partial set per
    planned task (files round-robin over one wave, see operators.filetasks)
    read with pyarrow in the workers → driver fold, or a tree merge when
    there are more tasks than ``fanin``."""
    files = list_input_files(spark, input_path)
    return _collect_multi(build_partials_files_multi(spark, files, targets), fanin, targets)


# ---------------------------------------------------------------------------
# Grouped (per-key) sketches of any kind — the shared grouped plan
# (operators/grouped_kll): JVM projection, one key exchange, a JVM sort of
# each reduce partition by key, and ONE Python stage that streams the sorted
# batches and builds one sketch per key run.
# ---------------------------------------------------------------------------

_GP_V, _GP_W = "__gp_v", "__gp_w"


def _nan_to_null(values: pa.Array) -> pa.Array:
    """A float NaN is a missing value, as the siblings (and pandas) treat
    it: not ingested and not counted in ``n``."""
    import pyarrow.compute as pc

    if pa.types.is_floating(values.type) and pc.any(pc.is_nan(values)).as_py():
        return pc.if_else(pc.is_nan(values), pa.nulls(len(values), values.type), values)
    return values


def _key_starts(key_cols: list[pa.Array], prev: list[pa.Array] | None) -> np.ndarray:
    """Per row of a key-sorted batch: does a new key start there? Row 0 is
    compared with ``prev`` (the previous batch's last keys, one element per
    column) and starts a key when there is none. NULL is a key of its own
    and NaN keys are one key, as in Spark's sort and GROUP BY."""
    import pyarrow.compute as pc

    n = len(key_cols[0])
    starts = np.zeros(n, dtype=bool)
    if prev is None:
        starts[0] = True
    for i, c in enumerate(key_cols):
        if prev is not None:
            c = pa.concat_arrays([prev[i], c])
        a, b = c.slice(1), c.slice(0, len(c) - 1)
        diff = pc.fill_null(pc.not_equal(a, b), False).to_numpy(zero_copy_only=False)
        if pa.types.is_floating(c.type):
            both_nan = pc.and_(pc.is_nan(a), pc.is_nan(b))
            diff &= ~pc.fill_null(both_nan, False).to_numpy(zero_copy_only=False)
        diff |= a.is_null().to_numpy(zero_copy_only=False) != b.is_null().to_numpy(
            zero_copy_only=False
        )
        starts[n - len(diff) :] |= diff
    return starts


def _overflow_error(key: list[pa.Array], overflow: int) -> OverflowError:
    # the grouped output schema has no overflow column, so a group exceeding
    # a cuckoo's capacity must fail LOUDLY — dropping the count would be
    # silent false negatives (size the capacity for the largest group, or use
    # bloom/hll for unbounded groups)
    key_vals = tuple(c[0].as_py() for c in key)
    return OverflowError(
        f"cuckoo capacity overflow in group {key_vals}: "
        f"{overflow} elements did not fit"
    )


def _grouped_batch(keys: list[list[pa.Array]], blobs, ns, names) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.concat_arrays([k[i] for k in keys]) for i in range(len(keys[0]))]
        + [pa.array(blobs, type=pa.binary()), pa.array(ns, type=pa.int64())],
        names=names,
    )


def _grouped_build_stage(spec: SketchSpec, n_keys: int, weighted: bool, names):
    """The one Python stage. Each reduce partition arrives sorted by key, so
    the stage streams it: the open key's sketch is carried across batch
    boundaries and emitted when the next key starts. It holds one batch and
    one sketch at a time, never the whole partition."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        prev = None  # the keys of the last row seen
        key, sk, n = None, None, 0  # the open key: its keys, sketch, count
        keys, blobs, ns = [], [], []  # finished keys not yet emitted
        for batch in batches:
            if not batch.num_rows:
                continue
            key_cols = batch.columns[:n_keys]
            starts = _key_starts(key_cols, prev)
            prev = [c.slice(batch.num_rows - 1) for c in key_cols]
            values = _nan_to_null(batch.column(n_keys))
            w = batch.column(n_keys + 1).to_numpy(zero_copy_only=False) if weighted else None
            cuts = np.append(np.union1d(np.flatnonzero(starts), [0]), batch.num_rows)
            for lo, hi in zip(cuts[:-1], cuts[1:]):
                if starts[lo]:
                    if sk is not None:
                        keys.append(key)
                        blobs.append(sk.to_bytes())
                        ns.append(n)
                    key, sk, n = [c.slice(lo, 1) for c in key_cols], spec.create(), 0
                    _bind_funnel(sk, values)
                seg = values.slice(lo, hi - lo)
                if w is None:
                    overflow = _ingest_overflow(sk, seg)
                    if overflow:
                        raise _overflow_error(key, overflow)
                else:
                    sk.update(seg, weights=w[lo:hi])
                n += len(seg) - seg.null_count
            if blobs:
                yield _grouped_batch(keys, blobs, ns, names)
                keys, blobs, ns = [], [], []
        if sk is not None:
            yield _grouped_batch([key], [sk.to_bytes()], [n], names)

    return fn


def build_grouped(
    df: DataFrame,
    key: str | list[str],
    col: str,
    spec: SketchSpec,
    salt: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-key sketches of any kind: (*keys, sketch binary, n bigint), where
    ``n`` counts the key's non-null values (a key whose values are all null
    gets an empty sketch and ``n`` = 0; NULL is a key of its own).

    The shared grouped plan (``grouped_kll``, ``grouped_cms``,
    ``grouped_theta``): project ``(*keys, col[, weight])`` in the JVM, one
    key exchange into ``defaultParallelism`` partitions, a JVM sort of each
    partition by key (it spills to disk, so a partition of any size fits),
    then ONE ``mapInArrow`` that streams the sorted batches and builds one
    sketch per key run. Per-key sketches of the order-insensitive kinds are
    byte-identical to a local build over the key's rows.

    Skew: the policy of ``grouped_hll``'s default — no probe and no map-side
    combine. A hot key's rows stream through one sketch in one reduce task,
    so it costs that task time, not memory.

    ``weight_col``: per-row int64 weights for weighted sketches (tuple /
    CMS / CountSketch / t-digest; SHLL timestamps) — "total tokens across
    distinct conversations PER SEGMENT" is one grouped pass. Rows with a
    null value or weight are filtered first so weights stay aligned with
    the values.

    A cuckoo group that exceeds its capacity raises ``OverflowError`` (the
    output has no overflow column; a dropped element would be a silent
    false negative). ``salt`` is deprecated and ignored.
    """
    if salt is not None:
        warnings.warn(
            "build_grouped(salt=...) has no effect: each key is built in "
            "one reduce task",
            DeprecationWarning,
            stacklevel=2,
        )
    keys = [key] if isinstance(key, str) else list(key)
    # internal names cannot collide with a caller's column (e.g. a key "k")
    aliases = [f"__gp_k{i}" for i in range(len(keys))]
    projected = [F.col(k).alias(a) for k, a in zip(keys, aliases)] + [F.col(col).alias(_GP_V)]
    weighted = weight_col is not None
    if weighted:
        projected.append(F.col(weight_col).cast("long").alias(_GP_W))
    narrow = df.select(*projected)
    if weighted:
        narrow = narrow.filter(F.col(_GP_V).isNotNull() & F.col(_GP_W).isNotNull())
    out_schema = StructType(
        [StructField(k, df.schema[k].dataType) for k in keys]
        + [StructField("sketch", BinaryType()), StructField("n", LongType())]
    )
    return (
        repartition_by_key(narrow, None, aliases)
        .sortWithinPartitions(*aliases)
        .mapInArrow(
            _grouped_build_stage(spec, len(keys), weighted, keys + ["sketch", "n"]),
            out_schema,
        )
    )
