"""Exact grouped quantiles at high key cardinality — vectorized across ALL
keys in a partition (the order-statistics sibling of operators/grouped_hll.py).

The sketch path (`build_grouped` / `grouped_kll` with KLL/t-digest) pays a
Python sketch build per group — wrong at 10^8 conv_ids. When per-key exact
quantiles are wanted (bounded rows per key, e.g. turns per conversation),
one narrow shuffle of (key, float64) plus ONE lexsort per partition answers
every requested quantile for every key simultaneously:

  repartition(key) → lexsort (key, value) → segment boundaries →
  per-quantile index gather (idx = max(0, ⌈q·n⌉−1), the nearest-rank /
  `quantile_disc` convention DuckDB uses — oracle-matched by construction).

Skew posture (r3): exact quantiles are count-distributive over
(value, count) runs, so the shared driver's sampled skew probe
(_arrow_common.grouped_build, 4096 rows per input partition) gates the
map-side run-length combine grouped_mode shares — a zipf-hot
key whose value domain repeats (turn indexes, token counts) crosses the
exchange as its distinct (key, value, count) runs instead of its raw row
set, and the reduce side answers quantiles from cumulative run counts —
EXACTLY equal to the unreduced build (nearest-rank over counted runs is
the same order statistic; tested row-identical). Cold inputs keep the
single-phase plan: the probe returns false and nothing extra runs.
For UNBOUNDED per-key rows with unbounded value domains prefer the
mergeable KLL sketch path; this operator is the exact fast path.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ._arrow_common import (
    GroupedKind,
    collapse_key_value_runs,
    encode_keys,
    gather_keyed_values,
    grouped_build,
    run_combine,
)


def _runs(keys, v, w):
    """Collapse to distinct (key, value) runs with summed weights, runs
    sorted by (key, value). Returns (uniq, run_key, run_val, run_cnt)."""
    uniq, codes = encode_keys(keys)
    run_key, run_val, run_cnt = collapse_key_value_runs(codes, v, w)
    return uniq, run_key, run_val, run_cnt


def quantile_names(qs: Sequence[float]) -> list[str]:
    """Output column name per quantile: ``q50`` for a whole percent,
    ``q99_9`` for a fractional one (percent to 6 decimals). Raises
    ``ValueError`` when two quantiles would share a name."""
    names = []
    for q in qs:
        pct = f"{q * 100:.6f}".rstrip("0").rstrip(".")
        names.append("q" + pct.replace(".", "_"))
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        raise ValueError(f"quantiles {list(qs)} repeat output column(s) {dup}")
    return names


def _build_stage(qs: Sequence[float]):
    qarr = np.asarray(qs, dtype=np.float64)
    qnames = quantile_names(qs)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gathered = gather_keyed_values(batches, as_float=True)
        if gathered is None:
            return
        keys, v, w = gathered
        uniq, run_key, run_val, run_cnt = _runs(keys, v, w)
        # per-key totals + cumulative run counts (global; per-key ranks are
        # recovered by subtracting the segment's base)
        n_per = np.bincount(run_key, weights=run_cnt, minlength=len(uniq)).astype(
            np.int64
        )
        runs_per = np.bincount(run_key, minlength=len(uniq)).astype(np.int64)
        seg_start = np.zeros(len(uniq) + 1, dtype=np.int64)
        np.cumsum(runs_per, out=seg_start[1:])
        cum = np.cumsum(run_cnt)
        base = np.zeros(len(uniq), dtype=np.int64)
        nz = seg_start[:-1] > 0
        base[nz] = cum[seg_start[:-1][nz] - 1]
        cols = [uniq, pa.array(n_per)]
        for q in qarr:
            # nearest-rank (DuckDB quantile_disc): 0-based rank per key
            idx = np.maximum(np.ceil(q * n_per).astype(np.int64) - 1, 0)
            np.minimum(idx, n_per - 1, out=idx)
            # first run whose within-key cumulative count exceeds the rank
            pos = np.searchsorted(cum, base + idx, side="right")
            cols.append(pa.array(run_val[pos]))
        yield pa.RecordBatch.from_arrays(cols, names=["key", "n", *qnames])

    return fn


def grouped_quantiles(
    df: DataFrame,
    key: str,
    col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    partitions: int | None = None,
) -> DataFrame:
    """Exact nearest-rank quantiles per key: (key, n, q25, q50, …), one
    column per quantile named by :func:`quantile_names` (``q99_9`` for
    0.999).

    Unskewed inputs keep the single-phase plan; per-partition-hot keys
    (the shared driver's sampled skew probe) take the map-side
    (key, value, count) combine, which is exact (nearest-rank over counted
    runs) and bounds a hot key's shuffle by its distinct values per
    partition. The probe is one eager sampled job over the input lineage
    at plan-construction time — for an expensive upstream DAG cache the
    input to avoid evaluating the lineage twice.
    """
    qcols = ", ".join(f"{name} double" for name in quantile_names(qs))
    kind = GroupedKind(
        f"n bigint, {qcols}",
        _build_stage(qs),
        probe_rows=4096,
        combine=run_combine,
        combined="v double, c bigint",
        cast="double",
    )
    return grouped_build(df, key, col, kind, partitions=partitions)


def quantile_trim(
    df: DataFrame,
    key: str,
    col: str,
    q: float = 0.9,
    keep: str = "below",
    method: str = "exact",
    kll_k: int = 200,
) -> DataFrame:
    """Filter rows relative to their own group's q-quantile.

    The outlier-trim step of a training-data pipeline ("drop documents
    longer than their source's p90") as two passes over the data:

      pass 1 computes one threshold per key — ``method="exact"`` uses the
      lexsort kernel above (bounded per-key rows), ``method="kll"`` the
      mergeable sketch path (unbounded rows, bounded error);
      pass 2 broadcast-joins the tiny (key, threshold) relation back and
      filters with a codegen comparison — no second shuffle of the data.

    ``keep="below"`` retains rows with value <= threshold (ties kept on
    both sides, matching the SQL oracle); ``keep="above"`` the complement.
    The broadcast holds one float per key: fine to ~10^7 keys, beyond that
    fall back to a shuffled join on key.
    """
    if keep not in ("below", "above"):
        raise ValueError(f"keep must be 'below' or 'above', got {keep!r}")
    (qname,) = quantile_names((q,))
    th_col = "__gps_trim_threshold"
    if method == "exact":
        th = grouped_quantiles(df, key, col, qs=(q,)).select(
            key, F.col(qname).alias(th_col)
        )
    elif method == "kll":
        from guava_probably_spark import SketchSpec
        from guava_probably_spark.functions import quantile_udf
        from guava_probably_spark.operators.build import build_grouped

        g = build_grouped(df, key, col, SketchSpec("kll", {"k": kll_k}))
        th = g.select(key, quantile_udf(q)("sketch").alias(th_col))
    else:
        raise ValueError(f"method must be 'exact' or 'kll', got {method!r}")
    cond = F.col(col).cast("double") <= F.col(th_col)
    joined = df.join(F.broadcast(th), key)
    return joined.filter(cond if keep == "below" else ~cond).drop(th_col)
