"""Distributed linear quality classifier over hashed token features.

The CCNet / GPT-3 data-curation recipe scores every document with a cheap
linear classifier trained to separate a high-quality seed corpus from the
raw crawl (Wenzek et al. 2020 §4.3; Brown et al. 2020 Appendix A), then
filters or importance-samples on that score.  This module is that operator,
Spark-first (no reference analogue; guava-probably has no ML surface —
SURVEY.md §2.3 maps this tier to the pipeline extensions):

1. **featurize** — the hashing trick (Weinberger et al. 2009): token →
   ``pmod(xxhash64(token), dim)`` entirely JVM-side (the text never crosses
   to Python), then two map-side-combined aggregations produce ONE bounded
   row per document: ``(id, buckets array<int>, counts array<bigint>)``.
   Feature vector x = counts / Σcounts (L1-normalized term frequencies)
   plus a bias term — the fastText linear model.
2. **fit** (``logreg_fit``) — full-batch logistic regression by gradient
   descent.  Each iteration is ONE ``mapInArrow`` scan over the (pinned)
   feature table emitting a per-partition partial blob
   ``(grad[dim+1] float64, loss, n)``; blobs are elementwise-additive and
   fold through the same fanin-ary tree as the k-means/sketch pipelines,
   so the driver sees ≤ fanin blobs of ~8·dim bytes — never rows.  At
   100 TB the text is read once (featurize); every GD pass touches only
   the ~50 B/doc feature table.
3. **score** (``logreg_score``) — sigmoid(x·w), one ``mapInArrow`` pass,
   zero shuffle.

Determinism class: float64 partial sums add in collection order — weights
are bit-stable for a fixed partitioning and ulp-stable (~1e-12) across
partitionings, the documented KLL/t-digest class, and scores inherit it.
The per-partition kernel is fully vectorized (Arrow list offsets →
``np.add.reduceat`` segment sums); no per-row Python.

Scale notes: ``dim`` = 2^18 is ~2 MB of weights — broadcast is free.
Featurize shuffles Σ distinct (doc, bucket) pairs (~tokens/3 per doc);
hot buckets cannot skew it because the key is (id, bucket).  Pin the
feature table (``df.localCheckpoint()`` or a parquet write) before
multi-iteration fits so the corpus scan is paid once.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .textexpr import words_expr

_MAGIC = b"LRGP"
_HDR = "<iqdd"
_HDR_LEN = 4 + struct.calcsize(_HDR)


def _pack_partial(grad: np.ndarray, loss: float, correct: float, n: int) -> bytes:
    return b"".join(
        (
            _MAGIC,
            struct.pack(_HDR, len(grad), n, loss, correct),
            np.ascontiguousarray(grad, dtype="<f8").tobytes(),
        )
    )


def _unpack_partial(blob: bytes) -> tuple[np.ndarray, float, float, int]:
    if blob[:4] != _MAGIC:
        raise ValueError("corrupt logreg partial blob")
    d, n, loss, correct = struct.unpack_from(_HDR, blob, 4)
    if not 0 < d <= (1 << 26) + 1:
        raise ValueError("implausible logreg partial dimension")
    if len(blob) != _HDR_LEN + 8 * d:
        raise ValueError("corrupt logreg partial blob (length)")
    grad = np.frombuffer(blob, "<f8", d, _HDR_LEN).copy()
    return grad, float(loss), float(correct), int(n)


def featurize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 1 << 18,
    label_col: str | None = None,
) -> DataFrame:
    """(id[, label], buckets, counts): hashed L1-ready token features.

    Buckets are ``pmod(xxhash64(token), dim)`` — computed JVM-side on the
    exploded token stream, so the hot path is whole-stage codegen and the
    text column never reaches a Python worker.  Empty/null texts yield
    empty arrays (they score sigmoid(bias)).
    """
    if dim <= 1:
        raise ValueError(f"dim must be > 1, got {dim}")
    ids = F.col(id_col).cast("long").alias("id")
    keep = [ids] + ([F.col(label_col).cast("double").alias("label")] if label_col else [])
    toks = df.select(
        *keep,
        F.explode_outer(
            F.expr(words_expr(f"coalesce({text_col}, '')", "spark"))
        ).alias("_raw"),
    ).select(
        # Spark split('') yields [''] — null the empty token (instead of
        # filtering the row) so empty docs keep a feature row with empty
        # arrays and score sigmoid(bias)
        "*", F.expr("nullif(_raw, '')").alias("_tok")
    ).drop("_raw")
    per_bucket = (
        toks.withColumn("_bk", F.pmod(F.xxhash64("_tok"), F.lit(dim)).cast("int"))
        .groupBy("id", "_bk")
        .agg(
            F.count("_tok").alias("_c"),
            *([F.first("label").alias("label")] if label_col else []),
        )
    )
    # sort_array on zipped (bucket, count) structs gives a canonical array
    # order, so downstream float segment sums are partition-invariant
    agg_cols = [
        F.sort_array(
            F.collect_list(
                F.when(F.col("_c") > 0, F.struct(F.col("_bk"), F.col("_c")))
            )
        ).alias("_z")
    ] + ([F.first("label").alias("label")] if label_col else [])
    rolled = per_bucket.groupBy("id").agg(*agg_cols)
    out = [
        F.col("id"),
        *([F.col("label")] if label_col else []),
        F.expr("transform(_z, s -> s._bk)").alias("buckets"),
        # int32 counts: a doc never repeats a token 2^31 times, and the
        # narrower Arrow transfer is what every GD epoch re-pays
        F.expr("transform(_z, s -> cast(s._c AS int))").alias("counts"),
    ]
    return rolled.select(*out)


def _flat(col: pa.ChunkedArray | pa.Array, dtype) -> tuple[np.ndarray, np.ndarray]:
    """List column → (offsets, flat values) as numpy, zero-copy-ish."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if isinstance(arr, pa.LargeListArray):
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    else:
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False).astype(dtype)
    return offs, vals


def _doc_margins(
    w: np.ndarray, offs: np.ndarray, bks: np.ndarray, cts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc (margin, xw contributions) via reduceat segment sums.

    x is the L1-normalized tf vector; margin_i = Σ_b x_ib·w_b + bias.
    Docs with no tokens get margin = bias.
    """
    n_docs = len(offs) - 1
    lens = np.diff(offs)
    tot = np.empty(n_docs)
    dot = np.empty(n_docs)
    nz = lens > 0
    starts = offs[:-1][nz]
    contrib = cts.astype(np.float64)
    tot[nz] = np.add.reduceat(contrib, starts) if starts.size else 0.0
    dot[nz] = (
        np.add.reduceat(contrib * w[bks], starts) if starts.size else 0.0
    )
    tot[~nz] = 1.0
    dot[~nz] = 0.0
    margins = dot / tot + w[-1]
    return margins, tot


def _grad_stage(w: np.ndarray):
    """One GD epoch over a partition → one (grad, loss, correct, n) blob."""
    dim = len(w) - 1

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        grad = np.zeros(dim + 1)
        loss = 0.0
        correct = 0.0
        n = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            y = batch.column("label").to_numpy(zero_copy_only=False).astype(np.float64)
            offs, bks = _flat(batch.column("buckets"), np.int64)
            _, cts = _flat(batch.column("counts"), np.float64)
            margins, tot = _doc_margins(w, offs, bks, cts)
            p = 1.0 / (1.0 + np.exp(-margins))
            r = p - y  # dL/dmargin
            # log-loss, numerically stable form
            loss += float(np.logaddexp(0.0, margins).sum() - (margins * y).sum())
            correct += float(((margins > 0) == (y > 0.5)).sum())
            n += len(y)
            # scatter r_i * x_ib into grad: repeat per-doc factor over the
            # flat token axis, then one bincount over bucket ids
            doc_of = np.repeat(np.arange(len(y)), np.diff(offs))
            f = (r / tot)[doc_of] * cts
            if len(bks):
                grad[:dim] += np.bincount(bks, weights=f, minlength=dim)
            grad[dim] += float(r.sum())
        if n == 0:
            return
        yield pa.RecordBatch.from_pydict(
            {"p": [_pack_partial(grad, loss, correct, n)]}
        )

    return fn


def _merge_stage():
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = None
        for batch in batches:
            for blob in batch.column(0).to_pylist():
                g, l, c, n = _unpack_partial(blob)
                if acc is None:
                    acc = [g, l, c, n]
                else:
                    acc[0] += g
                    acc[1] += l
                    acc[2] += c
                    acc[3] += n
        if acc is None:
            return
        yield pa.RecordBatch.from_pydict({"p": [_pack_partial(*acc)]})

    return fn


def logreg_fit(
    feats: DataFrame,
    dim: int = 1 << 18,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-6,
    fanin: int = 64,
) -> tuple[np.ndarray, dict]:
    """Full-batch logistic regression over a :func:`featurize` table with a
    ``label`` column ∈ {0, 1}.  Returns (weights[dim+1] — bias last, info).

    Plain GD from w = 0 with fixed step on the MEAN gradient + L2; the
    loss history in ``info`` is the convergence certificate (monotone for
    a sane ``lr`` on this convex objective).  Each iteration costs one
    feature-table scan plus a fanin-ary fold of 8·(dim+1)-byte blobs.
    """
    w = np.zeros(dim + 1)
    history: list[dict] = []
    src = feats.select("label", "buckets", "counts")
    n_total = 0
    for _ in range(iters):
        parts = src.mapInArrow(_grad_stage(w), "p binary")
        p = parts.rdd.getNumPartitions()
        while p > fanin:
            p = max(1, math.ceil(p / fanin))
            parts = parts.repartition(p).mapInArrow(_merge_stage(), "p binary")
        acc = None
        for row in parts.collect():
            g, l, c, n = _unpack_partial(row.p)
            if acc is None:
                acc = [g, l, c, n]
            else:
                acc[0] += g
                acc[1] += l
                acc[2] += c
                acc[3] += n
        if acc is None:
            raise ValueError("logreg_fit: feature table has no rows")
        grad, loss, correct, n_total = acc
        reg = l2 * w
        reg[-1] = 0.0  # never regularize the bias
        w = w - lr * (grad / n_total + reg)
        history.append(
            {"loss": loss / n_total, "accuracy": correct / n_total}
        )
    return w, {"iters": len(history), "n": n_total, "history": history}


def _score_stage(w: np.ndarray):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
            offs, bks = _flat(batch.column("buckets"), np.int64)
            _, cts = _flat(batch.column("counts"), np.float64)
            margins, _ = _doc_margins(w, offs, bks, cts)
            yield pa.RecordBatch.from_pydict(
                {"id": ids, "score": 1.0 / (1.0 + np.exp(-margins))}
            )

    return fn


def logreg_score(feats: DataFrame, w: np.ndarray) -> DataFrame:
    """(id, score double): sigmoid(x·w) per doc — one zero-shuffle pass."""
    return feats.select("id", "buckets", "counts").mapInArrow(
        _score_stage(np.asarray(w, dtype=np.float64)), "id long, score double"
    )


def quality_classifier_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    dim: int = 1 << 18,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-6,
) -> tuple[DataFrame, np.ndarray, dict]:
    """Convenience end-to-end: featurize once (pinned), fit, score all rows.

    Rows with a NULL label are scored but excluded from training — the
    standard seed-vs-crawl setup where only a subset carries labels.
    """
    feats = featurize(df, id_col, text_col, dim, label_col=label_col)
    from guava_probably_spark import config

    if config.PIN_INTERMEDIATES:
        feats = feats.localCheckpoint()
    w, info = logreg_fit(
        feats.filter(F.col("label").isNotNull()), dim, iters, lr, l2
    )
    return logreg_score(feats, w), w, info


def ccnet_buckets(
    df: DataFrame,
    key: str,
    col: str,
    cuts: tuple = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple = ("head", "middle", "tail"),
    out_col: str = "bucket",
    method: str = "exact",
    kll_k: int = 200,
) -> DataFrame:
    """Per-group quantile bucketing — the CCNet shard step (Wenzek et al.
    2020 §4.2): documents are split into head/middle/tail by per-LANGUAGE
    perplexity tertiles, and downstream recipes keep or re-weight buckets.

    Generic form: within each ``key`` group, a row's label is
    ``labels[i]`` for the FIRST cut with ``value <= q_cuts[i]`` (exact
    nearest-rank quantile, idx = clamp(ceil(q·n)−1, 0, n−1) — the
    operators/grouped_quantiles convention), else ``labels[-1]``.  With
    ascending cuts the labels order worst→best for a lower-is-better
    column (perplexity); pass ``labels`` reversed for higher-is-better
    scores (e.g. pipeline/textops.lm_quality_score).

    Plan: one threshold pass (``method="exact"`` = the lexsort kernel,
    bounded rows/key; ``"kll"`` = the mergeable sketch path for unbounded
    groups, bucket edges then carry the published rank error) → broadcast
    of one float per (key, cut) → ONE codegen CASE over the data.  No
    second shuffle; the 10^12-row pass is a scan.  Ties sit with the
    lower bucket on both engines (``<=`` against the same threshold
    value), so the assignment is exact and oracle-checkable.
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need len(cuts)+1 labels, got {len(labels)} for {len(cuts)} cuts"
        )
    if list(cuts) != sorted(cuts) or not all(0.0 < c < 1.0 for c in cuts):
        raise ValueError(f"cuts must be ascending in (0, 1), got {cuts!r}")
    qnames = [f"q{int(round(c * 100))}" for c in cuts]
    if len(set(qnames)) != len(qnames):
        raise ValueError(f"cuts {cuts!r} collide at integer-percent names")
    th_cols = [f"__gps_ccb_{q}" for q in qnames]
    if method == "exact":
        from guava_probably_spark.operators.grouped_quantiles import (
            grouped_quantiles,
            quantile_names,
        )

        th = grouped_quantiles(
            df.filter(F.col(col).isNotNull()), key, col, qs=tuple(cuts)
        ).select(
            key, *[F.col(q).alias(t) for q, t in zip(quantile_names(cuts), th_cols)]
        )
    elif method == "kll":
        from guava_probably_spark import SketchSpec
        from guava_probably_spark.functions import quantile_udf
        from guava_probably_spark.operators.build import build_grouped

        g = build_grouped(df, key, col, SketchSpec("kll", {"k": kll_k}))
        th = g.select(
            key, *[quantile_udf(c)("sketch").alias(t) for c, t in zip(cuts, th_cols)]
        )
    else:
        raise ValueError(f"method must be 'exact' or 'kll', got {method!r}")
    v = F.col(col).cast("double")
    expr = F.lit(labels[-1])
    for t, lab in zip(reversed(th_cols), reversed(labels[:-1])):
        expr = F.when(v <= F.col(t), F.lit(lab)).otherwise(expr)
    expr = F.when(v.isNull(), F.lit(None).cast("string")).otherwise(expr)
    return (
        df.join(F.broadcast(th), key, "left")
        .withColumn(out_col, expr)
        .drop(*th_cols)
    )
