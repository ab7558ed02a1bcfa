"""Pairwise distinct-overlap matrix across corpus partitions (sources,
snapshots, shards) from per-key theta sketches.

The question a curation pipeline asks before mixing sources — "how much of
source A is already in source B?" — needs |A∩B|, |A∪B| and |A\\B| of the
per-source *distinct value* sets (texts, fingerprints, urls). Computing
those exactly is an S-way self-join of the corpus; at 100 TB that is the
most expensive query in the warehouse. Theta/KMV sketches make it
metadata-scale instead: one :func:`~.grouped_theta` pass builds a ≤ k·8-byte
sketch per key (map-side pre-reduce, shuffle bounded by parts × keys × k),
and every pairwise estimate is then computed from blobs alone — the corpus
is scanned exactly once, regardless of how many pairs are audited.

Plan shape: the (key, sketch) table is tiny (one row per source), so the
pair generation is a broadcast nested-loop self-join on ``a < b`` — no
shuffle — and the estimate stage is one ``mapInArrow`` pass over pair rows
(numpy intersect/union on the retained hash sets; a pair costs O(k)).
Estimates are EXACT below saturation (every distinct value retained while
n < k) and carry the KMV error bound ~1/√(sample hits) above it; the
driver row exploits exactness (per-source distinct ≪ k) for a hash-exact
oracle vs pairwise COUNT(DISTINCT) joins.

Reference parity note: guava-probably has no set-operation surface (its
filters answer membership only); this extends the north-rule theta tier
(SURVEY.md §2.2) the same way ``setops_grid`` does, across keys instead of
across splits.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from guava_probably_spark.operators.grouped_theta import grouped_theta
from guava_probably_spark.sketches.base import Sketch


def _pair_stage():
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            a_keys = batch.column("a").to_pylist()
            b_keys = batch.column("b").to_pylist()
            sk_a = batch.column("sk_a").to_pylist()
            sk_b = batch.column("sk_b").to_pylist()
            est_a, est_b, inter, union, diff, bound = [], [], [], [], [], []
            # each source's blob appears in S-1 pairs of the matrix —
            # memoize decode per distinct blob so the batch does O(S)
            # from_bytes parses, not O(S^2)
            decoded: dict[bytes, Sketch] = {}

            def _dec(blob):
                sk = decoded.get(blob)
                if sk is None:
                    sk = decoded[blob] = Sketch.from_bytes(blob)
                return sk

            for blob_a, blob_b in zip(sk_a, sk_b):
                sa = _dec(blob_a)
                sb = _dec(blob_b)
                est_a.append(sa.estimate())
                est_b.append(sb.estimate())
                inter.append(sa.intersect_estimate(sb))
                union.append(sa.union_estimate(sb))
                diff.append(sa.difference_estimate(sb))
                bound.append(max(sa.relative_error_bound(), sb.relative_error_bound()))
            yield pa.RecordBatch.from_pydict(
                {
                    "a": pa.array(a_keys, batch.column("a").type),
                    "b": pa.array(b_keys, batch.column("b").type),
                    "est_a": pa.array(est_a, pa.float64()),
                    "est_b": pa.array(est_b, pa.float64()),
                    "est_inter": pa.array(inter, pa.float64()),
                    "est_union": pa.array(union, pa.float64()),
                    "est_diff": pa.array(diff, pa.float64()),
                    "rel_err_bound": pa.array(bound, pa.float64()),
                }
            )

    return fn


def source_overlap_matrix(
    df: DataFrame,
    key: str,
    col: str,
    k: int = 4096,
    partitions: int | None = None,
    sketches: DataFrame | None = None,
    materialize: bool | None = None,
) -> DataFrame:
    """(a, b, est_a, est_b, est_inter, est_union, est_diff, rel_err_bound)
    for every unordered key pair a < b: distinct-value overlap estimates of
    ``col`` between the two keys' row sets.

    ``est_diff`` is |a \\ b| (directional; |b \\ a| = est_b − est_inter by
    inclusion–exclusion, exact in the same regime). ``rel_err_bound`` is the
    3σ KMV relative-error bound of the WORSE-saturated side — 0-adjacent
    below saturation where estimates are exact. Pass ``sketches`` (a
    (key, sketch, n) table from :func:`grouped_theta`, e.g. a persisted
    daily snapshot) to skip the corpus scan entirely and audit from blobs.

    ``materialize=True`` (default) pins the internally-built blob table
    with an eager localCheckpoint: the self-join below references it on
    BOTH sides and Spark does not reuse the exchange across the two
    MapInArrow subtrees, so without the pin the corpus is scanned twice
    (measured 4.6 → 2.3 s at 400k docs). The table is metadata-scale
    (S profiling keys × ≤k·8 B); the trade is truncated lineage (a lost
    executor fails the job instead of recomputing) and an eager build
    job at construction. ``materialize=False`` restores the lazy
    two-scan plan; ``None`` (default) takes ``config.PIN_INTERMEDIATES``
    — flip that once at startup on preemptible/spot executors.
    """
    from guava_probably_spark.config import pin_default

    materialize = pin_default(materialize)
    g = sketches
    if g is None:
        g = grouped_theta(df, key, col, k=k, partitions=partitions)
        if materialize:
            g = g.localCheckpoint(eager=True)
    kt = g.schema[key].dataType.simpleString()
    left = g.select(F.col(key).alias("a"), F.col("sketch").alias("sk_a"))
    right = g.select(F.col(key).alias("b"), F.col("sketch").alias("sk_b"))
    pairs = left.join(F.broadcast(right), F.col("a") < F.col("b"))
    return pairs.select("a", "b", "sk_a", "sk_b").mapInArrow(
        _pair_stage(),
        f"a {kt}, b {kt}, est_a double, est_b double, est_inter double, "
        "est_union double, est_diff double, rel_err_bound double",
    )
