"""High-cardinality grouped KLL and its siblings (t-digest, DD, REQ): one
mergeable quantile sketch per key, no applyInPandas.

Why not fully vectorized like grouped_hll/grouped_cms: KLL compaction is a
sequential level process, so groups can't share one scatter. But the
~1 ms/group cost the generic grouped build once paid was applyInPandas
overhead (pandas groupby + serialization), not sketch math. These operators
are sorted kinds of the one grouped plan (_arrow_common.grouped_build),
over ``SketchSpec("kll" | "tdigest" | "dd" | "req", ...)``:

  1. select (key, value→float64) and drop NULL and NaN values in the JVM —
     narrow rows, the shuffle carries 8 bytes + key, never the payload, and
     a key with no value left is omitted;
  2. map-side hot-key combine (the skew armor, VERDICT r2 item 2), taken
     when the shared driver's sampled skew probe finds a hot key: any key
     with at least the kind's threshold of rows in an input partition is
     pre-summarized into a partial sketch blob BEFORE the exchange;
     KLL/t-digest are mergeable, so a zipf-hot conv_id ships
     ``input_parts`` KB-blobs instead of serializing its 10^9-row set into
     one reduce task. Colder keys pass through as raw rows — at high key
     cardinality a blob per (partition, key) costs more than the rows;
  3. repartition(key) and a JVM sort of each reduce partition by key;
  4. one mapInArrow, the sorted stream of ``build_grouped``
     (build._grouped_build_stage): per key, ``update`` ingests the key's
     raw values batch by batch and the partial blobs merge in.

Output rows are standard sketch blobs — mergeable with any other sketch of
the same parameters via `Sketch.from_bytes(...).merge(...)`. Unlike the
HLL/theta/CMS grouped packers, KLL / t-digest / REQ blobs are NOT
byte-identical across repartitionings: their compaction is order-sensitive
(which items survive depends on feed order). Estimates carry the same
rank-error bound either way; the byte-identity test pins the
single-partition case where order matches a local build.

When per-key rows are BOUNDED (e.g. turns per conversation), prefer the
exact `operators/grouped_quantiles` path — this operator is for unbounded
per-key streams where a mergeable bounded-size summary is the point.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..sketches import SketchSpec
from ._arrow_common import (
    GroupedKind,
    encode_keys,
    gather_keyed_values,
    grouped_build,
)
from .build import _grouped_build_stage


def _prereduce_stage(make_sketch, threshold: int):
    """Map-side hot-key combine (skew armor). Per INPUT partition: keys with
    ≥ ``threshold`` local rows are summarized into a partial sketch blob
    (shuffle cost O(k log n) bytes instead of the row set); colder keys pass
    through as raw rows (a blob per (partition, key) would cost MORE than
    the rows at high key cardinality). Output rows are tagged by
    nullability: raw rows carry v, partials carry (s, c)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

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
            # the original batches through untouched
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
        gathered = gather_keyed_values(iter(batch_list), as_float=True)
        if gathered is None:
            return
        keys, v, _ = gathered
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


def _grouped_value_sketch(
    df: DataFrame,
    key: str,
    col: str,
    spec: SketchSpec,
    partitions: int | None,
    assume_colocated: bool,
    probe_rows: int,
) -> DataFrame:
    kind = GroupedKind(
        "sketch binary, n bigint",
        _grouped_build_stage(spec, 1, False, ["key", "sketch", "n"]),
        probe_rows=probe_rows,
        combine=_prereduce_stage(spec.create, probe_rows),
        combined="v double, s binary, c bigint",
        cast="double",
        sorted=True,
    )
    x = F.col(col).cast("double")
    return grouped_build(
        df.where(x.isNotNull() & ~F.isnan(x)), key, col, kind,
        partitions=partitions, assume_colocated=assume_colocated, rename=False,
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
    partitioned by ``key`` — zero shuffle (each partition is still sorted
    by key). A key whose values are all NULL or NaN is omitted.

    The skew armor: when the shared driver's sampled probe finds a key
    with ≥ 16·k rows IN AN INPUT PARTITION, such keys are pre-summarized
    into a partial KLL blob before the exchange (KLL is mergeable), so a
    zipf-hot key ships ``input_parts`` KB-sized blobs across the shuffle
    instead of its entire row set sorting in one reduce task.
    Colder keys pass through as raw rows — at high key cardinality a blob
    per (partition, key) would cost more than the rows. Below 16·k rows
    the blob (~k·log(n/k) doubles + header) doesn't beat 8-byte raw rows.
    The probe is one eager sampled job over the input lineage at
    plan-construction time (see _arrow_common.grouped_build) — for an
    expensive upstream DAG (joins, UDFs) cache the input to avoid
    evaluating the lineage twice.
    """
    return _grouped_value_sketch(
        df, key, col, SketchSpec("kll", {"k": k}), partitions, assume_colocated,
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
    same narrow shuffle + sorted-stream architecture as ``grouped_kll``,
    including the sampled-probe / map-side hot-key partial-build armor
    (t-digests are mergeable; centroids are order-sensitive the same way —
    see the module docstring for the byte-identity caveat)."""
    return _grouped_value_sketch(
        df, key, col, SketchSpec("tdigest", {"delta": delta}), partitions,
        assume_colocated, max(int(16 * delta), 1024),
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
    the same narrow shuffle + sorted stream + sampled-probe skew armor as
    ``grouped_kll``. Unlike KLL/t-digest, DD ingest and merge are
    order-INsensitive exact bucket addition, so WHILE NO COLLAPSE FIRES
    (``collapses == 0`` — the default 2048-bin store spans >10^17 of
    dynamic range) per-key blobs are byte-identical to local builds under
    ANY partitioning, with or without the combine — the grouped-HLL/CMS
    determinism class, with the quantile semantics of the grouped-KLL
    family. Once a store collapses, both the counter and the low-tail bucket layout
    become path-dependent (mass and the high-quantile bound still hold).

    ±inf values RAISE (every DD surface refuses unrepresentable values
    rather than silently mis-bin them — filter with ``isfinite`` upstream
    if inf artifacts are expected); KLL/t-digest on the same kernel ingest
    ±inf as orderable extremes instead. NaN/null are dropped by all three.
    """
    return _grouped_value_sketch(
        df, key, col, SketchSpec("dd", {"alpha": alpha, "max_bins": max_bins}),
        partitions, assume_colocated,
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
    2021) through the same narrow shuffle + sorted stream + sampled-probe
    skew armor as ``grouped_kll``. REQ compaction is randomized and
    order-sensitive like KLL/t-digest: per-key estimates are
    within-bound, not byte-identical, across partitionings."""
    return _grouped_value_sketch(
        df, key, col, SketchSpec("req", {"k": k, "hra": hra}), partitions,
        assume_colocated,
        # a REQ partial holds ~2·3·k floats per level at low n: partials
        # beat raw rows from a few hundred rows per (partition, key)
        max(64 * k, 1024),
    )
