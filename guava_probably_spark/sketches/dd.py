"""DDSketch — mergeable quantiles with a RELATIVE-error guarantee.

North-rule extension sketch (SURVEY.md §2.2; not in guava-probably).
Published algorithm: Masson, Rim, Lee, "DDSketch: A Fast and Fully-Mergeable
Quantile Sketch with Relative-Error Guarantees", VLDB 2019.

KLL / t-digest bound the RANK error: the returned value's rank is within ε
of the requested one, but on heavy-tailed data (transcript latencies, token
counts) a tiny rank slip at p99 can be a 10× value slip.  DDSketch bounds
the VALUE instead: for every quantile the estimate v̂ satisfies
|v̂ − v| ≤ α·|v| where v is an actual input value at that rank — the p99
you read is within α percent of the true p99, regardless of tail shape.

Construction (the paper's three-store layout, as in Datadog's public
implementations): log-spaced buckets with base γ = (1+α)/(1−α); a positive
value x lands in bucket i = ⌈log_γ x⌉, i.e. γ^(i−1) < x ≤ γ^i, and the
bucket's representative 2γ^i/(γ+1) is within α of every value in it.
Negative values index on |x| in a mirrored store; zeros (and |x| below a
tiny floor that would need astronomically negative indices) get a scalar
counter.  Each store is a CONTIGUOUS int64 count array plus a base offset —
bucket-add is a vectorized ``bincount``; merge is an aligned array add —
no dicts, no per-value Python.

Memory bound (the paper's collapsing variant): each store is capped at
``max_bins`` buckets (default 2048 ≈ 16 KB per store); on overflow the
LOWEST-index buckets collapse into the lowest kept one, exactly Datadog's
CollapsingLowestDense store.  Collapse sacrifices the α guarantee for the
collapsed (smallest-magnitude) tail only — extreme-MAGNITUDE values stay
exact-α, which is the tail that matters. Note the magnitude/quantile
distinction under signs: for positive data the preserved end is the high
quantiles; for all-negative data it is the LOW quantiles (q→0), since the
max value is then the lowest-magnitude one and can sit in the clamped
region. Counted in ``self.collapses`` so a
caller can see the bound no longer covers the low-magnitude tail.  Treat the counter
as a FLAG (``== 0`` vs ``> 0``), not an event count: a single ingest batch
can bump it up to three times (pre-clamp, ``_clamp_low`` spill,
``_collapse`` spill) and merge order redistributes where clamps fire, so
its magnitude is path-dependent.  At α=0.01, γ^2048 spans > 10^17 dynamic
range, so collapse never fires on real data.

Distributed posture: same as KLL/t-digest — per-partition partial sketches
built vectorized over Arrow batches, tree-merged as KB blobs; grouped
builds ride the generic grouped builder (`build_grouped`) unchanged.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import FUNNEL_NONE, KIND_DD, Sketch, register_kind
from .kll import _to_float_array


def _clamp_low(
    counts: np.ndarray, offset: int, floor: int
) -> tuple[np.ndarray, int, int]:
    """Collapse every bucket below ``floor`` into the floor bucket.

    The pre-densify twin of the post-hoc collapse: indices below
    ``top − max_bins + 1`` are doomed to collapse anyway, so clamping them
    FIRST keeps the transient dense array ≤ max_bins wide instead of
    spanning the raw index range (at α=1e-6 raw indices span ±3·10⁸ — a
    GB-scale allocation if densified unclamped). Returns
    (counts, offset, spilled_mass)."""
    if len(counts) == 0 or offset >= floor:
        return counts, offset, 0
    cut = min(floor - offset, len(counts))
    spill = int(counts[:cut].sum())
    rest = counts[cut:]
    if len(rest) == 0:
        out = np.zeros(1, dtype=np.int64)
        out[0] = spill
        return out, floor, spill
    out = rest.copy()
    out[0] += spill
    return out, floor, spill


@register_kind
class DDSketch(Sketch):
    KIND = KIND_DD

    def __init__(self, alpha: float = 0.01, max_bins: int = 2048):
        super().__init__(FUNNEL_NONE)
        if not 0.0 < alpha < 1.0:
            raise ValueError(f"alpha must be in (0, 1), got {alpha}")
        if max_bins < 2:
            raise ValueError("max_bins must be >= 2")
        self.alpha = float(alpha)
        self.max_bins = int(max_bins)
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._lg = math.log(self.gamma)
        if not self._lg > 0.0:
            # alpha below ~1e-16 makes gamma round to exactly 1.0 — bucket
            # math would divide by zero and every estimate would be garbage
            raise ValueError(f"alpha={alpha} is too small to resolve in float64")
        # only exact zeros go to the zero counter: any positive float64 has
        # |log x| <= 745, so its index fits int64 for every resolvable alpha
        # (the pre-densify clamp + collapses counter handle extreme spans)
        self._min_value = 0.0
        # contiguous stores: counts[j] is bucket index (offset + j)
        self.pos = np.zeros(0, dtype=np.int64)
        self.pos_offset = 0
        self.neg = np.zeros(0, dtype=np.int64)
        self.neg_offset = 0
        self.zero_count = 0
        self.n = 0
        self.collapses = 0

    # -------------------------------------------------------------- stores
    def _indices(self, mag: np.ndarray) -> np.ndarray:
        """Bucket index i = ⌈log_γ |x|⌉ per positive magnitude."""
        return np.ceil(np.log(mag) / self._lg).astype(np.int64)

    def _store_add(self, which: str, idx: np.ndarray) -> None:
        counts = self.pos if which == "pos" else self.neg
        offset = self.pos_offset if which == "pos" else self.neg_offset
        lo = int(idx.min())
        hi = int(idx.max())
        # pre-clamp: indices below top − max_bins + 1 collapse regardless;
        # clamping first bounds the dense span at ~max_bins (see _clamp_low)
        top = hi if len(counts) == 0 else max(hi, offset + len(counts) - 1)
        floor = top - self.max_bins + 1
        if lo < floor:
            idx = np.maximum(idx, floor)
            lo = floor
            self.collapses += 1
        counts, offset, spilled = _clamp_low(counts, offset, floor)
        if spilled:
            self.collapses += 1
        if len(counts) == 0:
            offset = lo
            counts = np.zeros(hi - lo + 1, dtype=np.int64)
        else:
            if lo < offset:
                counts = np.concatenate(
                    [np.zeros(offset - lo, dtype=np.int64), counts]
                )
                offset = lo
            if hi >= offset + len(counts):
                counts = np.concatenate(
                    [counts, np.zeros(hi - (offset + len(counts)) + 1, dtype=np.int64)]
                )
        counts += np.bincount(idx - offset, minlength=len(counts)).astype(np.int64)
        counts, offset = self._collapse(counts, offset)
        if which == "pos":
            self.pos, self.pos_offset = counts, offset
        else:
            self.neg, self.neg_offset = counts, offset

    def _collapse(self, counts: np.ndarray, offset: int) -> tuple[np.ndarray, int]:
        """CollapsingLowestDense: keep the top ``max_bins`` indices, sum the
        rest into the lowest kept bucket. Also trims zero margins so the
        dense array never carries empty fringe."""
        nz = np.flatnonzero(counts)
        if len(nz) == 0:
            return np.zeros(0, dtype=np.int64), 0
        lo_nz, hi_nz = int(nz[0]), int(nz[-1])
        counts = counts[lo_nz : hi_nz + 1]
        offset += lo_nz
        if len(counts) > self.max_bins:
            cut = len(counts) - self.max_bins
            spill = int(counts[:cut].sum())
            counts = counts[cut:].copy()
            offset += cut
            counts[0] += spill
            if spill:
                self.collapses += 1
        return counts, offset

    # -------------------------------------------------------------- updates
    def update(self, values) -> None:
        v = _to_float_array(values)
        if len(v) == 0:
            return
        if not np.isfinite(v).all():
            raise ValueError("DDSketch.update: non-finite value")
        self.n += len(v)
        zero = np.abs(v) <= self._min_value
        self.zero_count += int(zero.sum())
        pos = v[v > self._min_value]
        if len(pos):
            self._store_add("pos", self._indices(pos))
        neg = v[v < -self._min_value]
        if len(neg):
            self._store_add("neg", self._indices(-neg))

    def put(self, x: float) -> None:
        self.update(np.array([x], dtype=np.float64))

    # --------------------------------------------------------------- merge
    def merge(self, other: "DDSketch") -> "DDSketch":
        self._check_compatible(other)
        for which in ("pos", "neg"):
            ocounts = getattr(other, which)
            if len(ocounts) == 0:
                continue
            ooff = other.pos_offset if which == "pos" else other.neg_offset
            counts = self.pos if which == "pos" else self.neg
            offset = self.pos_offset if which == "pos" else self.neg_offset
            if len(counts) == 0:
                counts, offset = ocounts.copy(), ooff
            else:
                # pre-clamp both sides so the aligned span stays ~max_bins
                # even when the two stores' index ranges are far apart
                top = max(offset + len(counts), ooff + len(ocounts)) - 1
                floor = top - self.max_bins + 1
                counts, offset, s1 = _clamp_low(counts, offset, floor)
                ocounts, ooff, s2 = _clamp_low(ocounts, ooff, floor)
                if s1 or s2:
                    self.collapses += 1
                lo = min(offset, ooff)
                hi = max(offset + len(counts), ooff + len(ocounts))
                merged = np.zeros(hi - lo, dtype=np.int64)
                merged[offset - lo : offset - lo + len(counts)] = counts
                merged[ooff - lo : ooff - lo + len(ocounts)] += ocounts
                counts, offset = merged, lo
            counts, offset = self._collapse(counts, offset)
            if which == "pos":
                self.pos, self.pos_offset = counts, offset
            else:
                self.neg, self.neg_offset = counts, offset
        self.zero_count += other.zero_count
        self.n += other.n
        self.collapses += other.collapses
        return self

    def fold_to(self, m: int) -> "DDSketch":
        """Fold to a coarser grid γ₂ = γᵐ (``m`` an integer ≥ 1): bucket
        index j = ⌈i/m⌉ — PURE integer math, since ⌈⌈y·m⌉/m⌉ = ⌈y⌉ makes
        the γᵐ grid exactly nest the γ grid. The folded sketch is a
        bona-fide DDSketch at α₂ = (γᵐ−1)/(γᵐ+1) and — while
        ``collapses == 0`` — the fold COMMUTES with merge exactly:
        fold(A).merge(fold(B)) is byte-identical to fold(A.merge(B))
        (regrid is a linear map on counts), enabling mixed-α sketch-table
        merges via SQL ``sketch_fold`` like the HLL/theta/KLL/t-digest
        folds. Once a collapse has fired (``max_bins`` bound), WHICH mass
        was clamped depends on operation order, so the two bracketings can
        differ in the collapsed low tail (the same carve-out merge
        determinism carries); rank estimates stay within the collapsed-tail
        caveat either way. Unlike the other folds, the fold parameter is
        the grid MULTIPLIER m, not the target α — α₂ is derived."""
        if not (isinstance(m, (int, np.integer)) and m >= 1):
            raise ValueError(f"fold multiplier must be an integer >= 1, got {m}")
        if m == 1:
            return self.copy()  # identity fold keeps α bit-exact (merge-compat)
        g2 = self.gamma**int(m)
        alpha2 = (g2 - 1.0) / (g2 + 1.0)
        if not alpha2 < 1.0:
            raise ValueError(f"folded alpha would reach 1.0 (gamma^{m} overflow)")
        out = DDSketch(alpha2, self.max_bins)
        out.collapses = self.collapses  # before _collapse can add fold-time ones
        for which in ("pos", "neg"):
            counts = getattr(self, which)
            if len(counts) == 0:
                continue
            offset = self.pos_offset if which == "pos" else self.neg_offset
            idx = np.arange(offset, offset + len(counts))
            # ceil division for signed ints: -(-i // m)
            j = -(-idx // int(m))
            lo = int(j.min())
            folded = np.zeros(int(j.max()) - lo + 1, dtype=np.int64)
            np.add.at(folded, j - lo, counts)
            folded, lo = out._collapse(folded, lo)
            if which == "pos":
                out.pos, out.pos_offset = folded, lo
            else:
                out.neg, out.neg_offset = folded, lo
        out.zero_count = self.zero_count
        out.n = self.n
        return out

    # -------------------------------------------------------------- queries
    def _rep(self, idx: np.ndarray) -> np.ndarray:
        """Bucket representative 2γ^i/(γ+1) = γ^i·(1−α), within α of every
        member — computed in log space (γ^i alone overflows for buckets
        near DBL_MAX) and clamped to the largest finite double: the
        top-most representable bucket's clamped rep is within 2α of its
        members, every other bucket keeps the exact-α rep."""
        e = idx.astype(np.float64) * self._lg + math.log1p(-self.alpha)
        return np.exp(np.minimum(e, math.log(np.finfo(np.float64).max)))

    def quantile(self, q) -> np.ndarray | float:
        """Value(s) at quantile(s) q ∈ [0, 1], each within relative error
        ``alpha`` of an input value at that rank (exact-α unless
        ``collapses`` fired, which only degrades the collapsed low-|x| tail)."""
        scalar = np.isscalar(q)
        qs = np.clip(np.atleast_1d(np.asarray(q, dtype=np.float64)), 0.0, 1.0)
        if self.n == 0:
            out = np.full(len(qs), np.nan)
            return float(out[0]) if scalar else out
        # ascending-value order: negatives by DESCENDING index, zero, positives
        vals_parts, cnts_parts = [], []
        if len(self.neg):
            nidx = np.arange(
                self.neg_offset + len(self.neg) - 1, self.neg_offset - 1, -1
            )
            vals_parts.append(-self._rep(nidx))
            cnts_parts.append(self.neg[::-1])
        if self.zero_count:
            vals_parts.append(np.zeros(1))
            cnts_parts.append(np.array([self.zero_count], dtype=np.int64))
        if len(self.pos):
            pidx = np.arange(self.pos_offset, self.pos_offset + len(self.pos))
            vals_parts.append(self._rep(pidx))
            cnts_parts.append(self.pos)
        vals = np.concatenate(vals_parts)
        cnts = np.concatenate(cnts_parts)
        keep = cnts > 0
        vals, cnts = vals[keep], cnts[keep]
        cum = np.cumsum(cnts)
        # the paper's rank target: the bucket holding item #⌊q·(n−1)⌋ (0-based)
        targets = np.floor(qs * (self.n - 1)).astype(np.int64)
        pos = np.searchsorted(cum, targets, side="right")
        pos = np.clip(pos, 0, len(vals) - 1)
        out = vals[pos]
        return float(out[0]) if scalar else out

    def rank(self, values) -> np.ndarray | float:
        """Normalized rank estimate(s): fraction of mass in buckets whose
        representative is strictly below x."""
        scalar = np.isscalar(values)
        v = np.atleast_1d(np.asarray(values, dtype=np.float64))
        if self.n == 0:
            out = np.zeros(len(v))
            return float(out[0]) if scalar else out
        below = np.zeros(len(v), dtype=np.float64)
        if len(self.pos):
            pidx = np.arange(self.pos_offset, self.pos_offset + len(self.pos))
            reps = self._rep(pidx)
            cum = np.concatenate([[0], np.cumsum(self.pos)])
            below += cum[np.searchsorted(reps, v, side="left")]
        if self.zero_count:
            below += np.where(v > 0, self.zero_count, 0)
        if len(self.neg):
            # value DESCENDS as the |x| index ascends — search the
            # reversed (ascending-value) view
            nidx = np.arange(self.neg_offset, self.neg_offset + len(self.neg))
            asc = (-self._rep(nidx))[::-1]
            cum_asc = np.concatenate([[0], np.cumsum(self.neg[::-1])])
            below += cum_asc[np.searchsorted(asc, v, side="left")]
        out = below / self.n
        return float(out[0]) if scalar else out

    def relative_error_bound(self) -> float:
        """The published guarantee: quantile estimates are within
        ``alpha`` relative error of true values (per-bucket containment,
        Masson et al. §2.1) while ``collapses == 0``."""
        return self.alpha

    def is_empty(self) -> bool:
        return self.n == 0

    @property
    def size(self) -> int:
        return self.n

    # --------------------------------------------------------- serialization
    def _params_tuple(self) -> tuple:
        return (self.alpha, self.max_bins)

    def _params_bytes(self) -> bytes:
        return struct.pack("<di", self.alpha, self.max_bins)

    def _payload_bytes(self) -> bytes:
        return b"".join(
            [
                struct.pack(
                    "<qqiqiqi",
                    self.n,
                    self.zero_count,
                    self.collapses,
                    self.pos_offset,
                    len(self.pos),
                    self.neg_offset,
                    len(self.neg),
                ),
                np.ascontiguousarray(self.pos, dtype="<i8").tobytes(),
                np.ascontiguousarray(self.neg, dtype="<i8").tobytes(),
            ]
        )

    @classmethod
    def _from_parts(cls, funnel: int, params: bytes, payload: bytes) -> "DDSketch":
        alpha, max_bins = struct.unpack("<di", params)
        sk = cls(alpha, max_bins)
        head = struct.calcsize("<qqiqiqi")
        n, zc, col, poff, plen, noff, nlen = struct.unpack_from("<qqiqiqi", payload, 0)
        if n < 0 or zc < 0 or plen < 0 or nlen < 0:
            raise ValueError("corrupt DD blob: negative count")
        if head + 8 * (plen + nlen) > len(payload):
            raise ValueError("corrupt DD blob: truncated stores")
        sk.n, sk.zero_count, sk.collapses = n, zc, col
        sk.pos_offset, sk.neg_offset = poff, noff
        sk.pos = np.frombuffer(payload, dtype="<i8", count=plen, offset=head).copy()
        sk.neg = np.frombuffer(
            payload, dtype="<i8", count=nlen, offset=head + 8 * plen
        ).copy()
        if (sk.pos < 0).any() or (sk.neg < 0).any():
            raise ValueError("corrupt DD blob: negative bucket count")
        store_total = int(sk.pos.sum()) + int(sk.neg.sum()) + zc
        if store_total != n:
            raise ValueError("corrupt DD blob: store mass != n")
        return sk

    def clear(self) -> None:
        self.pos = np.zeros(0, dtype=np.int64)
        self.neg = np.zeros(0, dtype=np.int64)
        self.pos_offset = self.neg_offset = 0
        self.zero_count = 0
        self.n = 0
        self.collapses = 0
