"""High-cardinality grouped KLL: one mergeable quantile sketch per key,
built with a single stable sort per partition and a cheap per-key segment
loop (no applyInPandas).

Why not fully vectorized like grouped_hll/grouped_cms: KLL compaction is a
sequential level process, so groups can't share one scatter. But the
~1 ms/group cost the generic grouped build once paid was applyInPandas
overhead (pandas groupby + serialization), not sketch math. This operator:

  1. select (key, value→float64), drop nulls — narrow rows, the shuffle
     carries 8 bytes + key, never the payload;
  2. map-side hot-key combine (the skew armor, VERDICT r2 item 2), taken
     when the shared driver's sampled skew probe
     (_arrow_common.grouped_build) finds a hot key: any key with at least
     the kind's threshold of rows in an input partition is pre-summarized
     into a partial sketch blob BEFORE the exchange; KLL/t-digest are
     mergeable, so a zipf-hot conv_id ships ``input_parts`` KB-blobs
     instead of serializing its 10^9-row set into one reduce task's sort.
     Colder keys pass through as raw rows — at high key cardinality a blob
     per (partition, key) costs more than the rows, and the no-hot-key
     fast path forwards the partition unsorted;
  3. repartition(key): all of a key's rows/partials land in one partition;
  4. mapInArrow: dictionary-encode keys → codes; ONE stable argsort groups
     rows by key preserving arrival order; per key, `KllSketch.update`
     ingests the whole raw segment in vectorized chunks (~tens of µs/key,
     ~20-50× cheaper than the applyInPandas path — bench in
     BENCH/BASELINE.md), then partial blobs merge in.

Output rows are standard KllSketch blobs — mergeable with any other
KllSketch of the same k via `Sketch.from_bytes(...).merge(...)`. Unlike the
HLL/theta/CMS grouped packers, blobs are NOT byte-identical across
repartitionings: KLL is order-sensitive (which items survive compaction
depends on feed order). Estimates carry the same rank-error bound either
way; the byte-identity test pins the single-partition case where order
matches a local build.

When per-key rows are BOUNDED (e.g. turns per conversation), prefer the
exact `operators/grouped_quantiles` path — this operator is for unbounded
per-key streams where a mergeable bounded-size summary is the point.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ._arrow_common import GroupedKind, grouped_build


def _gather_values(batches: Iterator[pa.RecordBatch]):
    """Collect (keys, float64 values) from a partition's batches, dropping
    nulls and NaNs — thin wrapper over the shared gather (values only; the
    merge stage has its own 4-column gather for the mixed raw/partial
    schema). Returns None if no rows survive."""
    from ._arrow_common import gather_keyed_values

    gathered = gather_keyed_values(batches, as_float=True)
    if gathered is None:
        return None
    keys, v, _ = gathered
    return keys, v


def _segment(keys, v):
    """Stable-sort by key code preserving arrival order; returns
    (uniq, sorted_values, n_per, bounds)."""
    from ._arrow_common import encode_keys

    uniq, codes = encode_keys(keys)
    order = np.argsort(codes, kind="stable")  # keeps arrival order per key
    sv = v[order]
    n_per = np.bincount(codes, minlength=len(uniq)).astype(np.int64)
    bounds = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(n_per, out=bounds[1:])
    return uniq, sv, n_per, bounds


def _build_stage(make_sketch):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gathered = _gather_values(batches)
        if gathered is None:
            return
        uniq, sv, n_per, bounds = _segment(*gathered)
        blobs = []
        for i in range(len(uniq)):
            sk = make_sketch()
            sk.update(sv[bounds[i] : bounds[i + 1]])
            blobs.append(sk.to_bytes())
        yield pa.RecordBatch.from_arrays(
            [uniq, pa.array(blobs, type=pa.binary()), pa.array(n_per)],
            names=["key", "sketch", "n"],
        )

    return fn


def _prereduce_stage(make_sketch, threshold: int):
    """Map-side hot-key combine (skew armor). Per INPUT partition: keys with
    ≥ ``threshold`` local rows are summarized into a partial sketch blob
    (shuffle cost O(k log n) bytes instead of the row set); colder keys pass
    through as raw rows (a blob per (partition, key) would cost MORE than
    the rows at high key cardinality). Output rows are tagged by
    nullability: raw rows carry v, partials carry (s, c)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        from ._arrow_common import encode_keys

        batch_list = [b for b in batches if b.num_rows]
        if not batch_list:
            return
        # hot detection in C++: one value_counts pass over the key column —
        # NO per-row Python and no data copy on the (common) all-cold path
        vc = pc.value_counts(
            pa.chunked_array([b.column(0) for b in batch_list])
        )
        if len(vc) == 0 or pc.max(vc.field("counts")).as_py() < threshold:
            # common case at high key cardinality: nothing hot here — pass
            # the original batches through untouched (null v/NaN rows are
            # dropped by the merge stage)
            for b in batch_list:
                n = b.num_rows
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(0),
                        b.column(1),
                        pa.nulls(n, pa.binary()),
                        pa.nulls(n, pa.int64()),
                    ],
                    names=["k", "v", "s", "c"],
                )
            return
        gathered = _gather_values(iter(batch_list))
        if gathered is None:
            return
        keys, v = gathered
        uniq, codes = encode_keys(keys)
        n_per = np.bincount(codes, minlength=len(uniq)).astype(np.int64)
        hot = np.flatnonzero(n_per >= threshold)
        hot_mask = np.zeros(len(uniq), dtype=bool)
        hot_mask[hot] = True
        row_is_hot = hot_mask[codes]
        n_cold = int((~row_is_hot).sum())
        if n_cold:
            keep = pa.array(~row_is_hot)
            yield pa.RecordBatch.from_arrays(
                [
                    keys.filter(keep),
                    pa.array(v[~row_is_hot]),
                    pa.nulls(n_cold, pa.binary()),
                    pa.nulls(n_cold, pa.int64()),
                ],
                names=["k", "v", "s", "c"],
            )
        blobs = []
        for i in hot:  # few by definition (≥ threshold rows each)
            sk = make_sketch()
            sk.update(v[codes == i])  # arrival order preserved
            blobs.append(sk.to_bytes())
        yield pa.RecordBatch.from_arrays(
            [
                uniq.take(pa.array(hot)),
                pa.nulls(len(hot), pa.float64()),
                pa.array(blobs, type=pa.binary()),
                pa.array(n_per[hot]),
            ],
            names=["k", "v", "s", "c"],
        )

    return fn


def _merge_stage(make_sketch):
    """Reduce side of the two-phase build: per key, ingest the raw rows then
    merge in the partial blobs. KLL/t-digest are mergeable, so estimates
    carry the same published rank-error bound as the single-phase build
    (blob bytes may differ — both builds are order-sensitive; see module
    docstring)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..sketches.base import Sketch
        from ._arrow_common import encode_keys

        keys_parts, v_parts, s_parts, c_parts = [], [], [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            keys_parts.append(batch.column(0))
            v_parts.append(batch.column(1))
            s_parts.append(batch.column(2))
            c_parts.append(batch.column(3))
        if not keys_parts:
            return
        keys = pa.chunked_array(keys_parts).combine_chunks()
        if len(keys) == 0:
            return
        v = pa.chunked_array(v_parts).combine_chunks()
        s = pa.chunked_array(s_parts).combine_chunks()
        c = pa.chunked_array(c_parts).combine_chunks()
        uniq, codes = encode_keys(keys)
        vn = v.to_numpy(zero_copy_only=False)  # nulls → NaN
        cn = c.to_numpy(zero_copy_only=False)
        is_part = s.is_valid().to_numpy(zero_copy_only=False)
        # raw = has a real value and is not a partial; null-v/NaN rows from
        # the pass-through fast path are dropped here (same contract as the
        # single-phase build's null/NaN drop)
        is_raw = ~is_part & ~np.isnan(vn)
        order = np.argsort(codes, kind="stable")
        n_out = np.zeros(len(uniq), dtype=np.int64)
        # raw-row counts + partial-carried counts per key
        np.add.at(n_out, codes[is_raw], 1)
        part_idx = np.flatnonzero(is_part)
        if len(part_idx):
            np.add.at(
                n_out, codes[part_idx], cn[part_idx].astype(np.int64)
            )
        # segment bounds over the stable order
        sc = codes[order]
        seg_first = np.zeros(len(uniq) + 1, dtype=np.int64)
        np.cumsum(np.bincount(sc, minlength=len(uniq)), out=seg_first[1:])
        emit = []
        blobs = []
        for i in range(len(uniq)):
            rows = order[seg_first[i] : seg_first[i + 1]]
            raw_rows = rows[is_raw[rows]]
            part_rows = rows[is_part[rows]]
            if len(raw_rows) == 0 and len(part_rows) == 0:
                continue  # key had only null/NaN rows — same as a null drop
            emit.append(i)
            if len(raw_rows) == 0 and len(part_rows) == 1:
                # single partial, nothing to fold in: pass the blob through
                # unchanged (keeps byte parity with a local build when the
                # key lived in one input partition)
                blobs.append(s[int(part_rows[0])].as_py())
                continue
            sk = make_sketch()
            if len(raw_rows):
                sk.update(vn[raw_rows])
            for j in part_rows:
                sk.merge(Sketch.from_bytes(s[int(j)].as_py()))
            blobs.append(sk.to_bytes())
        if not emit:
            return
        emit_idx = np.asarray(emit, dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                uniq.take(pa.array(emit_idx)),
                pa.array(blobs, type=pa.binary()),
                pa.array(n_out[emit_idx]),
            ],
            names=["key", "sketch", "n"],
        )

    return fn


def _grouped_value_sketch(
    df: DataFrame,
    key: str,
    col: str,
    make_sketch,
    partitions: int | None,
    assume_colocated: bool,
    probe_rows: int,
) -> DataFrame:
    kind = GroupedKind(
        "sketch binary, n bigint",
        _build_stage(make_sketch),
        probe_rows=probe_rows,
        combine=_prereduce_stage(make_sketch, probe_rows),
        combined="v double, s binary, c bigint",
        merge=_merge_stage(make_sketch),
        cast="double",
    )
    return grouped_build(
        df, key, col, kind, partitions=partitions,
        assume_colocated=assume_colocated, rename=False,
    )


def grouped_kll(
    df: DataFrame,
    key: str,
    col: str,
    k: int = 200,
    partitions: int | None = None,
    assume_colocated: bool = False,
) -> DataFrame:
    """Per-key KllSketch at high key cardinality → (key, sketch, n).
    ``assume_colocated=True`` skips the repartition for input already
    partitioned by ``key`` — zero shuffle.

    The skew armor: when the shared driver's sampled probe finds a key
    with ≥ 16·k rows IN AN INPUT PARTITION, such keys are pre-summarized
    into a partial KLL blob before the exchange (KLL is mergeable), so a
    zipf-hot key ships ``input_parts`` KB-sized blobs across the shuffle
    instead of its entire row set serializing into one task's sort.
    Colder keys pass through as raw rows — at high key cardinality a blob
    per (partition, key) would cost more than the rows. Below 16·k rows
    the blob (~k·log(n/k) doubles + header) doesn't beat 8-byte raw rows.
    The probe is one eager sampled job over the input lineage at
    plan-construction time (see _arrow_common.grouped_build) — for an
    expensive upstream DAG (joins, UDFs) cache the input to avoid
    evaluating the lineage twice.
    """

    def make():
        from ..sketches.kll import KllSketch

        return KllSketch(k=k)

    return _grouped_value_sketch(
        df, key, col, make, partitions, assume_colocated,
        max(16 * k, 1024),
    )


def grouped_tdigest(
    df: DataFrame,
    key: str,
    col: str,
    delta: float = 200.0,
    partitions: int | None = None,
    assume_colocated: bool = False,
) -> DataFrame:
    """Per-key TDigestSketch at high key cardinality → (key, sketch, n) —
    same narrow shuffle + segment-loop architecture as ``grouped_kll``,
    including the sampled-probe / map-side hot-key partial-build armor
    (t-digests are mergeable; centroids are order-sensitive the same way —
    see the module docstring for the byte-identity caveat)."""

    def make():
        from ..sketches.tdigest import TDigestSketch

        return TDigestSketch(delta=delta)

    return _grouped_value_sketch(
        df, key, col, make, partitions, assume_colocated,
        max(int(16 * delta), 1024),
    )


def grouped_dd(
    df: DataFrame,
    key: str,
    col: str,
    alpha: float = 0.01,
    max_bins: int = 2048,
    partitions: int | None = None,
    assume_colocated: bool = False,
) -> DataFrame:
    """Per-key DDSketch at high key cardinality → (key, sketch, n): the
    "per-conversation p99 within α percent" query — VALUE-relative
    quantile bounds per key on arbitrary tails (sketches/dd.py), through
    the same narrow shuffle + segment-loop + sampled-probe skew armor as
    ``grouped_kll``. Unlike KLL/t-digest, DD ingest and merge are
    order-INsensitive exact bucket addition, so WHILE NO COLLAPSE FIRES
    (``collapses == 0`` — the default 2048-bin store spans >10^17 of
    dynamic range) per-key blobs are byte-identical to local builds under
    ANY partitioning, with or without the combine — the grouped-HLL/CMS
    determinism class, with the quantile semantics of the grouped-KLL
    family. Once a
    store collapses, both the counter and the low-tail bucket layout
    become path-dependent (mass and the high-quantile bound still hold).

    ±inf values RAISE (every DD surface refuses unrepresentable values
    rather than silently mis-bin them — filter with ``isfinite`` upstream
    if inf artifacts are expected); KLL/t-digest on the same kernel ingest
    ±inf as orderable extremes instead. NaN/null are dropped by all three.
    """

    def make():
        from ..sketches.dd import DDSketch

        return DDSketch(alpha, max_bins)

    return _grouped_value_sketch(
        df, key, col, make, partitions, assume_colocated,
        # scale to the blob size like 16·k / 16·δ on the siblings: a
        # partial only compresses when the raw rows outweigh the ~max_bins
        # int64 store it ships
        max(2 * max_bins, 1024),
    )


def grouped_req(
    df: DataFrame,
    key: str,
    col: str,
    k: int = 32,
    hra: bool = True,
    partitions: int | None = None,
    assume_colocated: bool = False,
) -> DataFrame:
    """Per-key ReqSketch at high key cardinality → (key, sketch, n): the
    "per-conversation p99.99 within RELATIVE rank error" query — the
    sharp-extreme-tail guarantee (sketches/req.py, Cormode et al. PODS
    2021) through the same narrow shuffle + segment-loop + sampled-probe
    skew armor as ``grouped_kll``. REQ compaction is randomized and
    order-sensitive like KLL/t-digest: per-key estimates are
    within-bound, not byte-identical, across partitionings."""

    def make():
        from ..sketches.req import ReqSketch

        return ReqSketch(k=k, hra=hra)

    return _grouped_value_sketch(
        df, key, col, make, partitions, assume_colocated,
        # a REQ partial holds ~2·3·k floats per level at low n: partials
        # beat raw rows from a few hundred rows per (partition, key)
        max(64 * k, 1024),
    )
