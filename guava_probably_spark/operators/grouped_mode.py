"""Exact grouped mode (most frequent value) at high key cardinality —
"dominant tool per conversation" — vectorized across all keys per partition.

Same family as grouped_hll/grouped_quantiles: one narrow shuffle, then per
partition ONE lexsort finds the run lengths of every (key, value) pair and a
second lexsort on (key, count desc, first-pos asc) picks each key's winner.
Tie-break is deterministic: the smallest value in sort order — the oracle
reproduces it with min(value) over the max-count set.

Skew armor (``pre_reduce="auto"``, the default): the same sampled skew
probe grouped_kll/grouped_quantiles use gates a MAP-SIDE
``(key, value, count)`` combine — engaged, a hot key ships at most
``parts × distinct_values`` counted rows across the shuffle instead of its
entire row set; not engaged (no per-partition-hot keys), the single-phase
plan runs with zero extra passes. Mode is count-distributive, so the
reduced build is exactly equal to the unreduced one (tested
row-identical on planted-hot-key input).

No per-group Python; a hot key is one in-partition sorted run.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ._arrow_common import repartition_by_key


def _encode_runs(keys, vals, w):
    """Dictionary-encode and collapse to distinct (key, value) runs with
    summed weights. Returns (kuniq, vdict, vorder, run_key, run_val,
    run_cnt) where run_val indexes the VALUE-ORDER rank (ascending) so the
    smallest-value tie-break is a stable first-pick."""
    from ._arrow_common import collapse_key_value_runs, encode_keys

    kuniq, kc = encode_keys(keys)
    venc = vals.dictionary_encode()
    # arrow dictionary codes are appearance-ordered; re-rank by VALUE order
    # so the tie-break (smallest value) is well-defined
    vdict = venc.dictionary
    vorder = pa.compute.sort_indices(vdict).to_numpy(zero_copy_only=False)
    vrank = np.empty(len(vdict), dtype=np.int64)
    vrank[vorder] = np.arange(len(vdict))
    vc = vrank[venc.indices.to_numpy(zero_copy_only=False).astype(np.int64)]
    run_key, run_val, run_cnt = collapse_key_value_runs(kc, vc, w)
    return kuniq, vdict, vorder, run_key, run_val, run_cnt


def _prereduce_stage():
    """Map-side combine: per input partition emit distinct (key, value,
    count) rows. Runs BEFORE the exchange — the shuffle is bounded by
    distinct pairs per partition no matter how hot a key is."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ._arrow_common import gather_keyed_values

        gathered = gather_keyed_values(batches)
        if gathered is None:
            return
        keys, vals, w = gathered
        kuniq, vdict, vorder, run_key, run_val, run_cnt = _encode_runs(keys, vals, w)
        yield pa.RecordBatch.from_arrays(
            [
                kuniq.take(pa.array(run_key)),
                vdict.take(pa.array(vorder[run_val])),
                pa.array(run_cnt.astype(np.int64)),
            ],
            names=["k", "v", "c"],
        )

    return fn


def _build_stage():
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ._arrow_common import gather_keyed_values

        gathered = gather_keyed_values(batches)
        if gathered is None:
            return
        keys, vals, w = gathered
        kuniq, vdict, vorder, run_key, run_val, run_cnt = _encode_runs(keys, vals, w)
        # per key: max count, tie -> smallest value (run_val asc within key)
        pick_order = np.lexsort((run_val, -run_cnt, run_key))
        pk, pv, pc = run_key[pick_order], run_val[pick_order], run_cnt[pick_order]
        first = np.empty(len(pk), dtype=bool)
        first[0] = True
        np.not_equal(pk[1:], pk[:-1], out=first[1:])
        win_key = pk[first]
        win_val = pv[first]
        win_cnt = pc[first]
        n_per = np.bincount(run_key, weights=run_cnt, minlength=len(kuniq)).astype(
            np.int64
        )
        out_keys = kuniq.take(pa.array(win_key))
        out_vals = vdict.take(pa.array(vorder[win_val]))
        yield pa.RecordBatch.from_arrays(
            [out_keys, out_vals, pa.array(win_cnt.astype(np.int64)), pa.array(n_per[win_key])],
            names=["key", "top_value", "top_count", "n"],
        )

    return fn


def grouped_mode(
    df: DataFrame,
    key: str,
    col: str,
    partitions: int | None = None,
    pre_reduce: bool | str = "auto",
    hot_threshold: int = 4096,
) -> DataFrame:
    """Per-key exact mode → (key, top_value, top_count, n); ties broken by
    the smallest value.

    ``pre_reduce="auto"`` (default) reuses grouped_kll's sampled skew
    probe: unskewed inputs keep the single-phase plan (no extra pass);
    per-partition-hot keys trigger the map-side (key, value, count)
    combine, bounding the hot key's shuffle footprint to
    ``input_parts × distinct_values`` counted rows. Mode is
    count-distributive, so results are identical either way. NOTE: "auto"
    runs one eager sampled job over the input lineage at plan-construction
    time — pass an explicit True/False for expensive upstream DAGs.
    """
    key_type = df.schema[key].dataType.simpleString()
    val_type = df.schema[col].dataType.simpleString()
    narrow = df.select(F.col(key).alias("k"), F.col(col).alias("v"))
    if pre_reduce == "auto":
        from .grouped_kll import _skew_probe

        pre_reduce = _skew_probe(narrow, hot_threshold)
    if pre_reduce:
        reduced = narrow.mapInArrow(
            _prereduce_stage(), f"k {key_type}, v {val_type}, c bigint"
        )
    else:
        reduced = narrow
    colocated = repartition_by_key(reduced, partitions)
    schema = f"key {key_type}, top_value {val_type}, top_count bigint, n bigint"
    return colocated.mapInArrow(_build_stage(), schema).withColumnRenamed("key", key)
