"""Exact grouped mode (most frequent value) at high key cardinality —
"dominant tool per conversation" — vectorized across all keys per partition.

Same family as grouped_hll/grouped_quantiles: one narrow shuffle, then per
partition ONE lexsort finds the run lengths of every (key, value) pair and a
second lexsort on (key, count desc, first-pos asc) picks each key's winner.
Tie-break is deterministic: the smallest value in sort order — the oracle
reproduces it with min(value) over the max-count set.

Skew armor: the shared driver's sampled skew probe
(_arrow_common.grouped_build, 4096 rows per input partition) gates the
MAP-SIDE ``(key, value, count)`` combine grouped_quantiles shares
(_arrow_common.run_combine) — engaged, a hot key ships at most
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

from pyspark.sql import DataFrame

from ._arrow_common import (
    GroupedKind,
    encode_runs,
    gather_keyed_values,
    grouped_build,
    run_combine,
)


def _build_stage():
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gathered = gather_keyed_values(batches)
        if gathered is None:
            return
        keys, vals, w = gathered
        kuniq, vdict, vorder, run_key, run_val, run_cnt = encode_runs(keys, vals, w)
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
) -> DataFrame:
    """Per-key exact mode → (key, top_value, top_count, n); ties broken by
    the smallest value.

    Unskewed inputs keep the single-phase plan (no extra pass);
    per-partition-hot keys (the shared driver's sampled skew probe) take
    the map-side (key, value, count) combine, bounding the hot key's
    shuffle footprint to ``input_parts × distinct_values`` counted rows.
    Mode is count-distributive, so results are identical either way. The
    probe is one eager sampled job over the input lineage at
    plan-construction time — cache the input for expensive upstream DAGs.
    """
    val_type = df.schema[col].dataType.simpleString()
    kind = GroupedKind(
        f"top_value {val_type}, top_count bigint, n bigint",
        _build_stage(),
        probe_rows=4096,
        combine=run_combine,
        combined=f"v {val_type}, c bigint",
    )
    return grouped_build(df, key, col, kind, partitions=partitions)
