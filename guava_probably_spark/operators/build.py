"""Distributed sketch build: mapInArrow partials + treeAggregate-style merge.

THE load-bearing design decision (SURVEY.md §3.4): PySpark pandas GROUPED_AGG
UDAFs perform NO partial aggregation — a naive pandas UDAF would shuffle all
raw rows (10^12 turns at design scale). Instead:

  scan → select(cols) → mapInArrow(build partials per partition) [no shuffle]
  → repartition(P/fanin) → mapInArrow(merge)  … repeated         [shuffles
    only sketch blobs, KB-sized]
  → driver merges the ≤fanin survivors

Raw data is scanned exactly once and never shuffled.  Column pruning pushes
through mapInArrow because we select the sketched columns first (verified by
plans.assert_no_raw_shuffle / tests).

Every global build is a list of targets ``(name, column, spec)`` or
``(name, column, spec, weight_column)`` run through one kernel, one partial
schema and one merge: ``collect_sketch`` and ``collect_weighted_sketch`` are
one-target calls of ``collect_sketches_multi``, ``collect_sketches_files``
reads the files in the workers, and ``operators.checkpoint`` builds one
partial per file.

- ``_ingest`` puts one batch of one column into one sketch and returns the
  ``n`` and overflow it adds. The grouped stream (``_grouped_build_stage``)
  calls it once per key segment.
- ``_Partial`` holds one task's sketches and emits them as
  ``PARTIAL_SCHEMA`` rows ``(name, sketch, n, overflow)``.
- ``tree_merge`` folds a task's rows per name (``fold_sketch_rows``) until at
  most ``fanin`` partitions remain, and ``_collect`` folds the survivors on
  the driver. A target with no rows gets ``(spec.create(), 0, 0)``.

``n`` counts what the sketch ingests: the non-null values, and for value
sketches (``FUNNEL_NONE``: KLL, t-digest, DD, REQ, MG) the non-NaN ones, since
a float NaN is a missing value there. Hash sketches hash a NaN like any value.

Grouped (per-key) sketches of any kind (``build_grouped``) and the KLL
family (``grouped_kll``) run ``_arrow_common.grouped_build`` as a sorted
kind: one key exchange, a JVM sort of each reduce partition by key, and one
Python stage (``_grouped_build_stage``) that streams the sorted rows into
one sketch per key.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from ..sketches import Sketch, SketchSpec
from ..sketches.base import (
    FUNNEL_LONG,
    FUNNEL_NONE,
    FUNNEL_PREHASHED,
    FUNNEL_UTF8,
    hash_column,
)
from ._arrow_common import GroupedKind, grouped_build
from .filetasks import list_input_files, plan_file_tasks

PARTIAL_SCHEMA = "name string, sketch binary, n bigint, overflow bigint"
_PARTIAL_ARROW = pa.schema(
    [
        ("name", pa.string()),
        ("sketch", pa.binary()),
        ("n", pa.int64()),
        ("overflow", pa.int64()),
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


def _nan_to_null(values: pa.Array) -> pa.Array:
    """A float NaN is a missing value, as the siblings (and pandas) treat
    it: not ingested and not counted in ``n``."""
    if pa.types.is_floating(values.type) and pc.any(pc.is_nan(values)).as_py():
        return pc.if_else(pc.is_nan(values), pa.nulls(len(values), values.type), values)
    return values


def _ingest(
    sk: Sketch,
    column: pa.Array,
    weights: pa.Array | None = None,
    hashed: dict | None = None,
) -> tuple[int, int]:
    """THE ingest kernel: one batch of one column into ``sk``; returns the
    ``(n, overflow)`` it adds. Callers have already turned a float NaN into
    NULL where it is a missing value (``_nan_to_null``).

    - A float64 numpy ``column`` holds a value sketch's values with the
      missing ones dropped (the grouped stream converts each batch once).
    - With ``weights``, rows whose value or weight is NULL are dropped
      first, so the weights stay aligned with the hashed keys, and the
      batch goes through ``update(column, weights=...)``.
    - Otherwise a hash sketch murmur3-hashes the column once and ingests
      ``(h1, h2)``; ``hashed`` ({funnel: (h1, h2)} for this column) shares
      that pass between the sketches of one column. Other kinds take
      ``update(column)``.

    ``n`` counts the values left after that rule. Overflow is the number of
    cuckoo inserts that FAILED at capacity: dropping it would be a silent
    false negative, so it flows into the partial's overflow column (bloom
    bits can't overflow; estimators never fail)."""
    if isinstance(column, np.ndarray):
        sk.update(column)
        return len(column), 0
    if weights is not None:
        if column.null_count or weights.null_count:
            keep = pc.and_(column.is_valid(), weights.is_valid())
            column, weights = column.filter(keep), weights.filter(keep)
        sk.update(column, weights=weights.to_numpy(zero_copy_only=False))
        return len(column), 0
    overflow = 0
    ingest = _hash_ingest(sk)
    if ingest is None:
        sk.update(column)
    else:
        hashed = {} if hashed is None else hashed
        if sk.funnel not in hashed:
            hashed[sk.funnel] = hash_column(column, sk.funnel)[1:]
        overflow = int(ingest(*hashed[sk.funnel]) or 0)
    return len(column) - column.null_count, overflow


def _bind_funnel(sk: Sketch, column: pa.Array) -> None:
    """Auto-bind a hashed sketch's funnel to the column's arrow type on first
    batch (string → UTF8 funnel, int → LONG funnel)."""
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


def _targets(targets) -> list[tuple[str, str, SketchSpec, str | None]]:
    """Targets as ``(name, column, spec, weight column or None)``; a
    3-tuple is an unweighted target."""
    return [(t[0], t[1], t[2], t[3] if len(t) > 3 else None) for t in targets]


def _columns(targets) -> list[str]:
    """The distinct columns the targets read, value and weight columns."""
    return list(
        dict.fromkeys(c for _, col, _, w in _targets(targets) for c in (col, w) if c)
    )


def _partial_batch(parts: dict[str, tuple[Sketch, int, int]]) -> pa.RecordBatch:
    """{name: (sketch, n, overflow)} as one ``PARTIAL_SCHEMA`` batch."""
    return pa.RecordBatch.from_pydict(
        {
            "name": list(parts),
            "sketch": [sk.to_bytes() for sk, _, _ in parts.values()],
            "n": [n for _, n, _ in parts.values()],
            "overflow": [ov for _, _, ov in parts.values()],
        },
        schema=_PARTIAL_ARROW,
    )


class _Partial:
    """One task's partial of a build: per target a sketch, the rows it
    ingested and its overflow count."""

    def __init__(self, targets):
        self.targets = _targets(targets)
        self.parts = {name: [spec.create(), 0, 0] for name, _, spec, _ in self.targets}
        self.first = True

    def add(self, column_of) -> None:
        """One batch into every target; ``column_of(c)`` is column ``c``'s
        Arrow array. Hash-ingesting sketches on one column share one hash
        pass — 3 sketches over conv_id = 1 hash."""
        hashed: dict[str, dict] = {}
        for name, c, _, w in self.targets:
            column = column_of(c)
            part = self.parts[name]
            if self.first:
                _bind_funnel(part[0], column)
            if part[0].funnel == FUNNEL_NONE:
                column = _nan_to_null(column)
            n, overflow = _ingest(
                part[0],
                column,
                None if w is None else column_of(w),
                hashed.setdefault(c, {}),
            )
            part[1] += n
            part[2] += overflow
        self.first = False

    def batches(self) -> Iterator[pa.RecordBatch]:
        """The partial as one ``PARTIAL_SCHEMA`` batch; nothing when the
        task ingested no value."""
        if any(n for _, n, _ in self.parts.values()):
            yield _partial_batch(self.parts)


def build_partials_multi(df: DataFrame, targets) -> DataFrame:
    """targets: [(name, column, spec[, weight column])] → one
    ``PARTIAL_SCHEMA`` row per target and input partition; raw rows never
    shuffle."""
    cols = _columns(targets)
    col_idx = {c: i for i, c in enumerate(cols)}

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        part = _Partial(targets)
        for batch in batches:
            part.add(lambda c: batch.column(col_idx[c]))
        yield from part.batches()

    return df.select(*cols).mapInArrow(fn, PARTIAL_SCHEMA)


def _merge_stage(dedups: dict[str, bool]):
    """``dedups``: per-name cuckoo merge semantics (_spec_dedup)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows: dict[str, list] = {}
        for batch in batches:
            for name, blob, cnt, ov in zip(*(c.to_pylist() for c in batch.columns)):
                rows.setdefault(name, []).append((blob, cnt, ov))
        if rows:
            yield _partial_batch(
                {
                    name: fold_sketch_rows(named, dedup=dedups.get(name, True))
                    for name, named in rows.items()
                }
            )

    return fn


def tree_merge(
    partials: DataFrame, fanin: int = 64, dedups: dict[str, bool] | None = None
) -> DataFrame:
    """treeAggregate-style reduction of ``PARTIAL_SCHEMA`` rows:
    log_fanin(P) stages, each a round-robin ``repartition`` of sketch rows
    (≤ one per target and partition) and a merge per name. ``dedups`` gives
    a name's cuckoo semantics (_spec_dedup; True when absent)."""
    p = partials.rdd.getNumPartitions()
    stage = _merge_stage(dedups or {})
    while p > fanin:
        p = max(1, math.ceil(p / fanin))
        partials = partials.repartition(p).mapInArrow(stage, PARTIAL_SCHEMA)
    return partials


def _collect(
    partials: DataFrame, fanin: int, targets
) -> dict[str, tuple[Sketch, int, int]]:
    """Tree-merge ``PARTIAL_SCHEMA`` rows and fold the collected ones per
    name on the driver: {name: (sketch, rows, overflow)} for every target."""
    targets = _targets(targets)
    dedups = {name: _spec_dedup(spec) for name, _, spec, _ in targets}
    rows: dict[str, list] = {name: [] for name in dedups}
    for r in tree_merge(partials, fanin, dedups).collect():
        rows[r.name].append((r.sketch, r.n, r.overflow))
    out = {}
    for name, _, spec, _ in targets:
        acc, n, overflow = fold_sketch_rows(rows[name], dedup=dedups[name])
        out[name] = (spec.create(), 0, 0) if acc is None else (acc, n, overflow)
    return out


def collect_sketches_multi(
    df: DataFrame, targets, fanin: int = 64
) -> dict[str, tuple[Sketch, int, int]]:
    """One scan → {name: (sketch, rows, overflow)} for every target
    ``(name, column, spec[, weight column])``. At 100 TB the scan dominates;
    building HLL+bloom+CMS over the same column (or several columns) in one
    pass costs one read instead of k."""
    return _collect(build_partials_multi(df, targets), fanin, targets)


def collect_sketch(
    df: DataFrame, col: str, spec: SketchSpec, fanin: int = 64
) -> tuple[Sketch, int, int]:
    """End-to-end: build + tree-merge + driver-side final merge.

    Returns (sketch, rows_consumed, merge_overflow_count).
    """
    return collect_sketches_multi(df, [(col, col, spec)], fanin)[col]


def collect_weighted_sketch(
    df: DataFrame, key_col: str, value_col: str, spec: SketchSpec, fanin: int = 64
) -> tuple[Sketch, int, int]:
    """collect_sketch for (key, weight) sketches whose ``update`` takes
    (keys, weights) — tuple sketch per-key sums, CMS/CountSketch/MG weighted
    frequencies, SHLL timestamps: same scan-once partials + KB-blob tree
    merge, two columns in. The tuple-sketch entry point —
    ``collect_weighted_sketch(turns, "conv_id", "n_tokens",
    SketchSpec("tuple", {"k": 4096}))`` answers "estimated total tokens
    across distinct conversations" from one blob. Rows with a null key or
    weight are filtered JVM-side; the weight is cast to long."""
    pruned = df.select(
        F.col(key_col).alias("k"), F.col(value_col).cast("long").alias("w")
    ).filter(F.col("k").isNotNull() & F.col("w").isNotNull())
    return collect_sketches_multi(pruned, [(key_col, "k", spec, "w")], fanin)[key_col]


# ---------------------------------------------------------------------------
# Python-native scan path: workers read parquet directly with pyarrow.
# The JVM schedules FILE GROUPS (operators.filetasks); column pages are
# decoded straight into the numpy kernels with zero JVM→Python Arrow IPC —
# the measured bottleneck for wide text columns (the JVM-scan path
# serializes every row across the socket).  pyarrow.fs handles s3://... and
# hdfs://... in production; tasks stay ordinary Spark tasks
# (locality/retry/speculation all apply).
# ---------------------------------------------------------------------------


def _ingest_file(part: "_Partial", file_path: str, columns: list[str]) -> pa.Table:
    """Read one input file's ``columns`` with pyarrow in the worker, ingest
    them into ``part`` and return the table."""
    import pyarrow.parquet as pq

    # use_threads=False: 32 parallel workers must not each spin up an
    # internal arrow thread pool (oversubscription)
    table = pq.read_table(file_path.removeprefix("file:"), columns=columns, use_threads=False)
    # 16k-row chunks keep hash temporaries cache-resident: measured 2-3x
    # kernel speedup and much better multi-core scaling vs whole-file
    # batches (DRAM-bandwidth bound)
    for rb in table.to_batches(max_chunksize=16384):
        part.add(lambda c: rb.column(rb.schema.get_field_index(c)))
    return table


def build_partials_files_multi(spark, files: list[str], targets) -> DataFrame:
    """``build_partials_multi`` over parquet files read in the workers: one
    partial set per planned task (files round-robin over one wave, see
    operators.filetasks)."""
    cols = _columns(targets)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        part = _Partial(targets)
        for batch in batches:
            for file_path in batch.column(0).flatten().to_pylist():
                _ingest_file(part, file_path, cols)
        yield from part.batches()

    return plan_file_tasks(spark, files).mapInArrow(fn, PARTIAL_SCHEMA)


def collect_sketches_files(
    spark, input_path: str, targets, fanin: int = 64
) -> dict[str, tuple[Sketch, int, int]]:
    """File-granular multi-sketch build: list files → one partial set per
    planned task read with pyarrow in the workers → driver fold, or a tree
    merge when there are more tasks than ``fanin``."""
    files = list_input_files(spark, input_path)
    return _collect(build_partials_files_multi(spark, files, targets), fanin, targets)


# ---------------------------------------------------------------------------
# Grouped (per-key) sketches: the sorted stream. ``build_grouped`` (any kind)
# and the KLL family (operators/grouped_kll) are sorted kinds of
# ``_arrow_common.grouped_build``: one key exchange, a JVM sort of each
# reduce partition by key, and ONE Python stage that streams the sorted
# batches and builds one sketch per key run.
# ---------------------------------------------------------------------------

# value sketches whose ``update`` takes float64 values: the stream converts
# each batch once, not each key segment
_FLOAT_KINDS = frozenset({"kll", "tdigest", "dd", "req"})


def _key_starts(key_cols: list[pa.Array], prev: list[pa.Array] | None) -> np.ndarray:
    """Per row of a key-sorted batch: does a new key start there? Row 0 is
    compared with ``prev`` (the previous batch's last keys, one element per
    column) and starts a key when there is none. NULL is a key of its own
    and NaN keys are one key, as in Spark's sort and GROUP BY."""
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


def _stream_values(column: pa.Array, floats: bool):
    """A batch's value column with the NaN rule run once for the batch:
    ``(values, at)``. For a float value sketch, ``values`` is one float64
    array of the non-missing values and rows ``lo:hi`` hold
    ``values[at[lo]:at[hi]]``; otherwise ``values`` is the Arrow column with
    NaN as NULL (grouped builds treat a NaN as NULL for every kind, hash
    sketches included) and ``at`` is None."""
    if not floats:
        return _nan_to_null(column), None
    x = column.cast(pa.float64()).to_numpy(zero_copy_only=False)  # NULL → NaN
    keep = ~np.isnan(x)
    at = np.zeros(len(x) + 1, dtype=np.int64)
    np.cumsum(keep, out=at[1:])
    return x[keep], at


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


def _grouped_batch(key: list[pa.Array], blobs, ns, names) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        key + [pa.array(blobs, type=pa.binary()), pa.array(ns, type=pa.int64())],
        names=names,
    )


def _grouped_build_stage(spec: SketchSpec, n_keys: int, weighted: bool, names):
    """The one per-key loop over sketch objects. Each reduce partition
    arrives sorted by key, so the stage streams it: the open key's sketch is
    carried across batch boundaries and emitted when the next key starts. It
    holds one batch and one sketch at a time, never the whole partition.

    Batches are ``(*keys, value[, weight])``, or ``(key, value, s, c)``
    after the KLL family's map-side combine. There a row with a partial
    blob ``s`` has a NULL value, which the ingest skips: the stage folds the
    blob into the key's sketch and adds its count ``c`` to ``n``. A key's
    first partial, with nothing ingested before it, becomes the key's
    sketch unchanged, so a key that lived in one input partition keeps the
    blob a local build gives."""
    floats = spec.kind in _FLOAT_KINDS and not weighted

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        prev = None  # the keys of the last row seen
        key, sk, n = None, None, 0  # the open key: its keys (one row), sketch, count
        for batch in batches:
            if not batch.num_rows:
                continue
            key_cols = batch.columns[:n_keys]
            starts = _key_starts(key_cols, prev)
            prev = [c.slice(batch.num_rows - 1) for c in key_cols]
            values, at = _stream_values(batch.column(n_keys), floats)
            w = batch.column(n_keys + 1) if weighted else None
            partials = []  # rows that carry a partial blob (combined input)
            if batch.num_columns > n_keys + 1 + weighted:
                blob_col, count_col = batch.column(n_keys + 1), batch.column(n_keys + 2)
                valid = blob_col.is_valid().to_numpy(zero_copy_only=False)
                partials = np.flatnonzero(valid).tolist()
            heads = np.flatnonzero(starts)
            cuts = np.append(np.union1d(heads, [0]), batch.num_rows)
            offs = (cuts if at is None else at[cuts]).tolist()  # value offsets
            cuts = cuts.tolist()
            p = 0  # the next partial row
            blobs, ns = [], []  # the keys this batch closes
            for lo, hi, a, b in zip(cuts, cuts[1:], offs, offs[1:]):
                if starts[lo]:
                    if sk is not None:
                        blobs.append(sk.to_bytes())
                        ns.append(n)
                    sk, n = spec.create(), 0
                    _bind_funnel(sk, batch.column(n_keys))
                seg_n, overflow = _ingest(sk, values[a:b], None if w is None else w[a:b])
                if overflow:
                    raise _overflow_error(
                        [c.slice(lo, 1) for c in key_cols] if starts[lo] else key, overflow
                    )
                n += seg_n
                while p < len(partials) and partials[p] < hi:
                    part = Sketch.from_bytes(blob_col[partials[p]].as_py())
                    if n:
                        sk.merge(part)
                    else:
                        sk = part
                    n += count_col[partials[p]].as_py()
                    p += 1
            if len(heads):
                # the closed keys: the one open before this batch, then every
                # key that starts and ends in it
                closed = [c.take(heads[:-1]) for c in key_cols]
                if key is not None:
                    closed = [pa.concat_arrays([k, c]) for k, c in zip(key, closed)]
                key = [c.slice(heads[-1], 1) for c in key_cols]
                if blobs:
                    yield _grouped_batch(closed, blobs, ns, names)
        if sk is not None:
            yield _grouped_batch(key, [sk.to_bytes()], [n], names)

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

    A sorted kind of ``_arrow_common.grouped_build``: project ``(*keys,
    col[, weight])`` in the JVM, one key exchange into
    ``defaultParallelism`` partitions, a JVM sort of each partition by key
    (it spills to disk, so a partition of any size fits), then ONE
    ``mapInArrow`` that streams the sorted batches and builds one sketch per
    key run (``_grouped_build_stage``). Per-key sketches of the
    order-insensitive kinds are byte-identical to a local build over the
    key's rows.

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
    weighted = weight_col is not None
    stage = _grouped_build_stage(spec, len(keys), weighted, keys + ["sketch", "n"])
    kind = GroupedKind("sketch binary, n bigint", stage, sorted=True)
    return grouped_build(df, keys, col, kind, weight_col=weight_col)
