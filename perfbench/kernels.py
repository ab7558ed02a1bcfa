"""In-process kernel table: the ``sketches`` layer timed without Spark.

Each kind is built, merged, encoded and decoded on one fixed sample drawn
from the workload's input (the first rows of its first parquet file), the
per-kind layout of "An Experimental Analysis of Quantile Sketches over Data
Streams" (EDBT 2023). Every number is the median of ``REPS`` timings.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from guava_probably_spark.sketches import (
    BloomSketch,
    CmsSketch,
    HllSketch,
    KllSketch,
    Sketch,
    ThetaSketch,
    XorFilter,
    XorStaticMap,
    hash_column,
)

REPS = 5


def _median_s(fn, items=None) -> float:
    """Median wall time of ``fn()`` (or of ``fn(x)`` for each prepared x)."""
    times = []
    for x in items if items is not None else [None] * REPS:
        t = time.perf_counter()
        fn() if items is None else fn(x)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _per_kind(out: dict, kind: str, build, n_items: int) -> None:
    """update / merge / encode / decode / blob size of one kind; ``build``
    maps a slice selector to a fresh sketch over that slice."""
    out[f"kernel.{kind}.update_ns"] = _median_s(lambda: build(slice(None))) / n_items * 1e9
    full = build(slice(None))
    blob = full.to_bytes()
    out[f"kernel.{kind}.encode_us"] = _median_s(full.to_bytes) * 1e6
    out[f"kernel.{kind}.decode_us"] = _median_s(lambda: Sketch.from_bytes(blob)) * 1e6
    out[f"kernel.{kind}.blob_bytes"] = float(len(blob))
    if kind == "xorf":  # static filter: no merge
        return
    half = n_items // 2
    left, right = build(slice(0, half)), build(slice(half, None))
    copies = [left.copy() for _ in range(REPS)]
    out[f"kernel.{kind}.merge_us"] = _median_s(lambda c: c.merge(right), copies) * 1e6


def kernel_table(sample: pa.Table) -> dict[str, float]:
    conv = sample.column("conv_id").combine_chunks()
    text = sample.column("text").combine_chunks()
    turns = sample.column("turn_idx").to_numpy().astype(np.float64)
    n = len(conv)
    out: dict[str, float] = {
        "kernel.hash_utf8_ns": _median_s(lambda: hash_column(conv)) / n * 1e9,
        "kernel.hash_text_ns": _median_s(lambda: hash_column(text)) / n * 1e9,
    }

    def updater(make, column):
        def build(sel):
            sk = make()
            sk.update(column[sel])
            return sk

        return build

    _per_kind(out, "hll", updater(lambda: HllSketch(p=14), conv), n)
    _per_kind(out, "bloom", updater(lambda: BloomSketch(capacity=n, fpp=0.01), conv), n)
    _per_kind(out, "cms", updater(lambda: CmsSketch(0.0005, 0.01), conv), n)
    _per_kind(out, "kll", updater(lambda: KllSketch(k=200), turns), n)
    _per_kind(out, "theta", updater(lambda: ThetaSketch(k=4096), conv), n)

    _, h1, _ = hash_column(conv)
    keys = np.unique(h1)
    _per_kind(out, "xorf", lambda sel: XorFilter.build_from_hashes(keys[sel]), len(keys))

    bloom = BloomSketch(capacity=n, fpp=0.01)
    bloom.update(conv)
    xorf = XorFilter.build_from_hashes(keys)
    xormap = XorStaticMap.build_from_hashes(keys, (keys % np.uint64(256)).astype(np.int64))
    out["kernel.bloom.probe_ns"] = _median_s(lambda: bloom.might_contain_batch(conv)) / n * 1e9
    out["kernel.xorf.probe_ns"] = _median_s(lambda: xorf.contains_hashes(h1, h1)) / n * 1e9
    out["kernel.xormap.lookup_ns"] = _median_s(lambda: xormap.lookup_hashes(h1)) / n * 1e9
    return out
