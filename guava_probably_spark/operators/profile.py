"""One-scan multi-column table profiler: the data-quality pass a 100-TB
ingest runs FIRST, as one job instead of 3×C jobs.

``profile_table(df)`` reads every requested column ONCE (a single
``mapInArrow`` scan — Parquet touches each column page exactly one time)
and builds, per column, the sketch bundle that answers the standard
profiling questions:

- row count and exact NULL count;
- approximate distinct count (HLL, ±1.04/√m) — every type, including
  float (IEEE-bit view with -0.0/NaN canonicalized to match SQL DISTINCT
  semantics) and timestamp/date (exact epoch-integer view);
- heavy hitters with deterministic brackets (Misra–Gries: lo ≤ f ≤ hi)
  for string/integer/boolean columns;
- quantiles (KLL rank error) + exact min/max/sum/mean for numeric columns.

Scale shape: the scan emits ONE ~KB-scale row per (partition, column) —
no raw row ever shuffles — and the merge phase is a C-group
``applyInPandas`` over those partials (C = column count), so the shuffle
payload at 1000 executors × 20 columns is a few hundred MB of blobs, not
data.  The summary output is one row per COLUMN, inherently tiny.

Numeric caveats (documented, not silent): min/max/sum accumulate in
float64, so integer sums beyond 2^53 lose low bits; quantiles/min/max
skip NaNs (NULL-like for profiling purposes) while distinct counts them
as one canonical value, matching SQL ``count(DISTINCT)``.

No counterpart in guava-probably (SURVEY.md §2 extension tier); the same
pattern as Deequ/DataSketches column profiles, re-expressed on this
library's mergeable-sketch contract.
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..sketches import Sketch, SketchSpec
from ..sketches.base import FUNNEL_LONG, FUNNEL_UTF8
from .grouped_quantiles import quantile_names

PROFILE_DDL = (
    "column string, dtype string, n bigint, nulls bigint, hll binary, "
    "mg binary, kll binary, vmin double, vmax double, vsum double"
)

_INT_TYPES = ("tinyint", "smallint", "int", "bigint", "long")
_FLOAT_TYPES = ("float", "double")


def _hash_view(arr: pa.Array) -> pa.Array | None:
    """Arrow column → a view the murmur funnel pipeline can hash (int64 /
    string), or None for unsupported types.  Nulls are dropped (DISTINCT
    ignores them; the NULL count is tracked exactly and separately).

    Floats canonicalize -0.0 → +0.0 and all NaN payloads → one bit
    pattern BEFORE the IEEE-bit int64 view, so the distinct count agrees
    with SQL DISTINCT (one NaN value, 0.0 == -0.0)."""
    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t):
        return arr
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return arr
    if pa.types.is_boolean(t):
        return arr.cast(pa.int64())
    if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_time(t):
        return arr.cast(pa.int64())
    if pa.types.is_floating(t):
        v = arr.cast(pa.float64()).drop_null().to_numpy(zero_copy_only=False).copy()
        v[v == 0.0] = 0.0  # -0.0 → +0.0
        v[np.isnan(v)] = np.nan  # canonical NaN bits
        return pa.array(v.view(np.int64))
    return None


def _numeric_view(arr: pa.Array) -> np.ndarray | None:
    """Float64 values (nulls and NaNs dropped) for quantiles/min/max/sum."""
    t = arr.type
    if not (pa.types.is_integer(t) or pa.types.is_floating(t)):
        return None
    v = arr.cast(pa.float64()).drop_null().to_numpy(zero_copy_only=False)
    if len(v) and np.isnan(v).any():
        v = v[~np.isnan(v)]
    return v


def _col_plan(dtype: str) -> tuple[int, bool, bool]:
    """(hll funnel, track mg, track kll) from the Spark simpleString type."""
    if dtype == "string" or dtype == "binary":
        return FUNNEL_UTF8, dtype == "string", False
    if dtype in _INT_TYPES or dtype == "boolean":
        return FUNNEL_LONG, True, dtype != "boolean"
    if dtype in _FLOAT_TYPES:
        return FUNNEL_LONG, False, True
    # timestamp/date/time: distinct + null profile only
    return FUNNEL_LONG, False, False


def profile_partials(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_p: int = 12,
    mg_k: int = 16,
    kll_k: int = 200,
) -> DataFrame:
    """Phase 1: one row of serialized partial state per (partition, column).

    The scan is the only pass over data; everything downstream moves
    KB-scale blobs.  Unsupported column types (arrays, structs, maps) are
    skipped with the same silence policy as ``df.describe``."""
    if columns is None:
        columns = [f.name for f in df.schema.fields]
    dtypes = {c: df.schema[c].dataType.simpleString() for c in columns}
    cols = [c for c in columns if _supported(dtypes[c])]
    if not cols:
        raise ValueError(f"no profilable columns among {columns}")
    plans = {c: _col_plan(dtypes[c]) for c in cols}

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        states: dict[str, dict] = {}
        for batch in batches:
            for i, c in enumerate(cols):
                arr = batch.column(i)
                st = states.get(c)
                if st is None:
                    funnel, want_mg, want_kll = plans[c]
                    st = states[c] = {
                        "hll": SketchSpec("hll", {"p": hll_p, "funnel": funnel}).create(),
                        "mg": (
                            SketchSpec("mg", {"k": mg_k}).create() if want_mg else None
                        ),
                        "kll": (
                            SketchSpec("kll", {"k": kll_k}).create() if want_kll else None
                        ),
                        "n": 0,
                        "nulls": 0,
                        "vmin": None,
                        "vmax": None,
                        "vsum": 0.0,
                    }
                st["n"] += len(arr)
                st["nulls"] += arr.null_count
                h = _hash_view(arr)
                if h is not None and len(h) - h.null_count > 0:
                    st["hll"].update(h)
                    if st["mg"] is not None:
                        # booleans ride their int64 view (MG keys serialize
                        # as int64/utf8 only); 0 = false, 1 = true
                        st["mg"].update(h if dtypes[c] == "boolean" else arr)
                if st["kll"] is not None:
                    v = _numeric_view(arr)
                    if v is not None and len(v):
                        st["kll"].update(v)
                        vmin = float(v.min())
                        vmax = float(v.max())
                        st["vmin"] = vmin if st["vmin"] is None else min(st["vmin"], vmin)
                        st["vmax"] = vmax if st["vmax"] is None else max(st["vmax"], vmax)
                        st["vsum"] += float(v.sum())
        if not states:
            return
        out = {
            "column": [], "dtype": [], "n": [], "nulls": [], "hll": [],
            "mg": [], "kll": [], "vmin": [], "vmax": [], "vsum": [],
        }
        for c in cols:
            st = states.get(c)
            if st is None:
                continue
            out["column"].append(c)
            out["dtype"].append(dtypes[c])
            out["n"].append(st["n"])
            out["nulls"].append(st["nulls"])
            out["hll"].append(st["hll"].to_bytes())
            out["mg"].append(None if st["mg"] is None else st["mg"].to_bytes())
            out["kll"].append(None if st["kll"] is None else st["kll"].to_bytes())
            out["vmin"].append(st["vmin"])
            out["vmax"].append(st["vmax"])
            out["vsum"].append(st["vsum"] if st["kll"] is not None else None)
        yield pa.RecordBatch.from_pydict(out)

    return df.select(*cols).mapInArrow(fn, PROFILE_DDL)


def _supported(dtype: str) -> bool:
    return (
        dtype in ("string", "binary", "boolean", "date")
        or dtype.startswith("timestamp")
        or dtype in _INT_TYPES
        or dtype in _FLOAT_TYPES
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_p: int = 12,
    mg_k: int = 16,
    kll_k: int = 200,
) -> DataFrame:
    """One-scan per-column profile with merged sketch blobs.

    Returns one row per column: (column, dtype, n, nulls, hll, mg, kll,
    vmin, vmax, vsum).  The HLL blob is byte-identical to a one-shot
    local build under any partitioning (canonical-merge class); MG/KLL
    blobs are within their published merge bounds.  Feed to
    ``profile_summary`` for decoded human-readable metrics, or keep the
    blobs — they re-merge with next week's profile (drift detection is a
    ``sketch_merge``, not a rescan)."""
    partials = profile_partials(df, columns, hll_p=hll_p, mg_k=mg_k, kll_k=kll_k)

    def merge_fn(pdf):
        import pandas as pd

        def fold(blobs):
            acc = None
            for b in blobs:
                if b is None:
                    continue
                sk = Sketch.from_bytes(bytes(b))
                acc = sk if acc is None else acc.merge(sk)
            return None if acc is None else acc.to_bytes()

        vmin = pdf["vmin"].dropna()
        vmax = pdf["vmax"].dropna()
        vsum = pdf["vsum"].dropna()
        return pd.DataFrame(
            {
                "column": [pdf["column"].iloc[0]],
                "dtype": [pdf["dtype"].iloc[0]],
                "n": [int(pdf["n"].sum())],
                "nulls": [int(pdf["nulls"].sum())],
                "hll": [fold(pdf["hll"])],
                "mg": [fold(pdf["mg"])],
                "kll": [fold(pdf["kll"])],
                "vmin": [float(vmin.min()) if len(vmin) else None],
                "vmax": [float(vmax.max()) if len(vmax) else None],
                "vsum": [float(vsum.sum()) if len(vsum) else None],
            }
        )

    return partials.groupBy("column").applyInPandas(merge_fn, PROFILE_DDL)


def profile_summary(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_p: int = 12,
    mg_k: int = 16,
    kll_k: int = 200,
    quantiles: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Decoded profile: one human-readable row per column.

    (column, dtype, n, nulls, distinct_est, distinct_rel_err, top_items
    array<struct<item,lo,hi>>, q<q> double per requested quantile, vmin,
    vmax, mean).  Collects C blob rows to the driver (C = column count —
    the output is inherently one row per column, never per key)."""
    spark = df.sparkSession
    qnames = quantile_names(quantiles)
    rows = profile_table(df, columns, hll_p=hll_p, mg_k=mg_k, kll_k=kll_k).collect()
    out = []
    for r in sorted(rows, key=lambda r: r.column):
        hll = Sketch.from_bytes(bytes(r.hll)) if r.hll is not None else None
        mg = Sketch.from_bytes(bytes(r.mg)) if r.mg is not None else None
        kll = Sketch.from_bytes(bytes(r.kll)) if r.kll is not None else None
        top = []
        if mg is not None:
            for item, c in sorted(mg.counters.items(), key=lambda kv: -kv[1])[:5]:
                top.append(
                    {"item": str(item), "lo": int(c), "hi": int(c) + int(mg.e)}
                )
        qvals = {}
        for name, q in zip(qnames, quantiles):
            qvals[name] = (
                float(kll.quantile(np.array([q]))[0]) if kll is not None else None
            )
        non_null = r.n - r.nulls
        out.append(
            {
                "column": r.column,
                "dtype": r.dtype,
                "n": int(r.n),
                "nulls": int(r.nulls),
                "distinct_est": int(round(hll.estimate())) if hll is not None else None,
                "distinct_rel_err": (
                    float(hll.relative_error_bound()) if hll is not None else None
                ),
                "top_items": top if mg is not None else None,
                **qvals,
                "vmin": r.vmin,
                "vmax": r.vmax,
                "mean": (
                    float(r.vsum) / non_null
                    if r.vsum is not None and non_null > 0
                    else None
                ),
            }
        )
    qddl = ", ".join(f"{name} double" for name in qnames)
    ddl = (
        "column string, dtype string, n bigint, nulls bigint, "
        "distinct_est bigint, distinct_rel_err double, "
        "top_items array<struct<item: string, lo: bigint, hi: bigint>>, "
        f"{qddl}, vmin double, vmax double, mean double"
    )
    return spark.createDataFrame(out, schema=ddl)
