"""Sliding-window HyperLogLog — distinct counts over ANY trailing time
window from one pass, bounded state, byte-canonical merges.

Published algorithm: Chabchoub & Hébrail 2010 ("Sliding HyperLogLog") —
per HLL register, instead of one max-ρ value, keep the set of
**possible future maxima** of (timestamp, ρ): a pair survives iff no other
pair has BOTH a newer-or-equal timestamp and a greater-or-equal ρ (the
Pareto frontier, their "List of Future Possible Maxima"). At query time,
for a window [t_q − W, t_q], each register's value is the max ρ among
surviving pairs with ts ≥ cutoff, and the standard HLL estimator applies —
so ANY window length can be asked of the same blob after the fact, with
the usual σ = 1.04/√m relative error among window members.

Expected frontier length per register is O(ln n_register) (each new pair
is a new frontier point iff its ρ exceeds all newer pairs' — the record
count of a random sequence), so a p=12 sketch over 10^8 events is ~4096 ×
~15 pairs ≈ 600 KB — one blob answering "distinct users in the last
1h/24h/7d at any replay point", where a plain HLL answers only
"since forever" and a per-window build costs a rescan per window.

Design for this library's contracts:

- **Canonical state** — the frontier is a pure function of the (hash, ts)
  multiset (order-independent), stored sorted by (register, ts desc), ρ
  strictly increasing within a register as ts decreases. Hence **merge is
  byte-associative AND commutative** (frontier of a union = prune of
  concatenated frontiers) — the same blob-equality class as HLL/bloom/CMS.
- **(idx, ρ) derivation is byte-identical to sketches/hll.py** (top-p-bit
  index, SWAR leading-zero ρ of the remaining bits), so ``fold_to(p')`` is
  the SAME exact cross-precision fold HLL carries, applied per pair, and
  an shll sketch with every-ts-in-window collapses to exactly the dense
  HLL register vector (tested: estimate_window(∞) == HllSketch.estimate
  on the same elements).
- **update(values, weights=ts)** rides the existing weighted two-column
  distributed build (`operators/build.collect_weighted_sketch` /
  `build_grouped(weight_col=...)`) — timestamps are int64 epoch seconds
  in the weight slot; no new Spark plumbing.

Reference parity: guava-probably has no time dimension at all (SURVEY.md
§2 — filters only); this is north-rule extension tier (BASELINE.json:14
"streaming or incremental variants ... documented as such").
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import FUNNEL_UTF8, KIND_SHLL, Sketch, element_to_hash, hash_column, register_kind
from .hll import HllSketch, _alpha, _leading_zero_rho


def _prune(idx: np.ndarray, ts: np.ndarray, rho: np.ndarray):
    """Canonical Pareto frontier per register.

    Keep pair (ts, ρ) of register i iff no other pair of i has ts' ≥ ts and
    ρ' ≥ ρ. Vectorized: sort by (idx asc, ts desc, ρ desc); within a
    register scan newest→oldest keeping a running max ρ — a pair survives
    iff its ρ strictly exceeds the max among strictly newer pairs (ties in
    ts collapse to the largest ρ, ties in ρ to the newest ts — both
    dominated, both dropped, so the result is duplicate-free and unique
    for a given multiset regardless of input order)."""
    n = len(idx)
    if n == 0:
        return idx, ts, rho
    order = np.lexsort((-rho.astype(np.int64), -ts, idx))
    idx, ts, rho = idx[order], ts[order], rho[order]
    new_reg = np.empty(n, dtype=bool)
    new_reg[0] = True
    new_reg[1:] = idx[1:] != idx[:-1]
    # running max of rho within register, over strictly newer-or-equal rows:
    # segmented cumulative max via np.maximum.accumulate with resets
    seg_id = np.cumsum(new_reg) - 1
    r = rho.astype(np.int64)
    # offset trick: add a huge per-segment ramp so accumulate never crosses
    # segments, then subtract it back
    offs = seg_id * 128  # rho < 64 always
    run = np.maximum.accumulate(r + offs) - offs
    keep = np.empty(n, dtype=bool)
    keep[0] = True
    # survive iff rho strictly exceeds every newer pair's rho in the same
    # register: compare to the running max SHIFTED by one within segment
    keep[1:] = new_reg[1:] | (r[1:] > run[:-1])
    return idx[keep], ts[keep], rho[keep]


@register_kind
class SlidingHllSketch(Sketch):
    KIND = KIND_SHLL

    def __init__(self, p: int = 12, funnel: int = FUNNEL_UTF8):
        if not 4 <= p <= 18:
            raise ValueError("precision p must be in [4, 18]")
        super().__init__(funnel)
        self.p = p
        self.m = 1 << p
        # frontier triples, maintained in canonical order
        self.idx = np.zeros(0, dtype=np.int64)
        self.ts = np.zeros(0, dtype=np.int64)
        self.rho = np.zeros(0, dtype=np.uint8)
        self.max_ts: int | None = None

    # -- serialization --------------------------------------------------------
    # payload: u32 npairs | u32 idx[n] asc | i64 ts[n] | u8 rho[n]
    # (canonical order → blob byte-equality across merge orders). max_ts is
    # not stored: it is max(ts) of the frontier — the globally newest pair
    # always survives pruning (nothing is both newer and larger-ρ... newer
    # pairs with smaller ρ survive too; the newest pair overall is
    # undominated by definition).
    def _params_tuple(self) -> tuple:
        return (self.p,)

    def _params_bytes(self) -> bytes:
        return struct.pack("<B", self.p)

    def _payload_bytes(self) -> bytes:
        return (
            struct.pack("<I", len(self.idx))
            + self.idx.astype("<u4").tobytes()
            + self.ts.astype("<i8").tobytes()
            + self.rho.tobytes()
        )

    @classmethod
    def _from_parts(cls, funnel: int, params: bytes, payload: bytes) -> "SlidingHllSketch":
        (p,) = struct.unpack("<B", params)
        sk = cls(p, funnel)
        (n,) = struct.unpack_from("<I", payload, 0)
        off = 4
        sk.idx = np.frombuffer(payload, dtype="<u4", count=n, offset=off).astype(np.int64)
        off += 4 * n
        sk.ts = np.frombuffer(payload, dtype="<i8", count=n, offset=off).astype(np.int64)
        off += 8 * n
        sk.rho = np.frombuffer(payload, dtype=np.uint8, count=n, offset=off).copy()
        sk.max_ts = int(sk.ts.max()) if n else None
        return sk

    # -- updates --------------------------------------------------------------
    def update_hashes(self, h1: np.ndarray, ts: np.ndarray) -> None:
        shift = np.uint64(64 - self.p)
        idx = (h1 >> shift).astype(np.int64)
        w = h1 << np.uint64(self.p)
        rho = _leading_zero_rho(w, 64 - self.p)
        self.idx = np.concatenate([self.idx, idx])
        self.ts = np.concatenate([self.ts, ts.astype(np.int64)])
        self.rho = np.concatenate([self.rho, rho])
        self.idx, self.ts, self.rho = _prune(self.idx, self.ts, self.rho)
        m = int(self.ts.max()) if len(self.ts) else None
        self.max_ts = m

    def update(self, values, weights=None) -> None:
        """``weights`` carries the int64 timestamps (epoch seconds) — the
        two-column build convention (collect_weighted_sketch)."""
        if weights is None:
            raise ValueError("SlidingHllSketch.update requires weights=timestamps")
        _, h1, _ = hash_column(values, self.funnel)
        ts = np.asarray(weights)
        if np.issubdtype(ts.dtype, np.datetime64):
            ts = ts.astype("datetime64[s]").astype(np.int64)
        ts = ts.astype(np.int64)
        if len(ts) != len(h1):
            raise ValueError("values/timestamps length mismatch")
        self.update_hashes(h1, ts)

    def put(self, e, ts: int = 0) -> None:
        _, h1, _ = element_to_hash(e)
        self.update_hashes(np.array([h1], dtype=np.uint64), np.array([ts]))

    # -- query ----------------------------------------------------------------
    def registers_at(self, cutoff_ts: int | None = None) -> np.ndarray:
        """Dense uint8 register vector restricted to pairs with
        ts ≥ cutoff_ts (None → all pairs: exactly the plain-HLL registers)."""
        regs = np.zeros(self.m, dtype=np.uint8)
        if len(self.idx) == 0:
            return regs
        if cutoff_ts is None:
            sel = slice(None)
        else:
            sel = self.ts >= int(cutoff_ts)
        np.maximum.at(regs, self.idx[sel], self.rho[sel])
        return regs

    def estimate_window(
        self, window: float | None = None, at_ts: int | None = None
    ) -> float:
        """Distinct-count estimate among elements with
        ts ∈ [at_ts − window, ∞). ``at_ts`` defaults to the newest seen
        timestamp; ``window=None`` estimates everything ever seen."""
        cutoff = None
        if window is not None:
            t_q = self.max_ts if at_ts is None else at_ts
            if t_q is None:
                return 0.0
            cutoff = int(t_q - window)
        regs = self.registers_at(cutoff).astype(np.float64)
        e = _alpha(self.m) * self.m * self.m / np.sum(np.exp2(-regs))
        if e <= 2.5 * self.m:
            v = int(np.count_nonzero(regs == 0))
            if v > 0:
                return self.m * math.log(self.m / v)
        return float(e)

    def estimate(self) -> float:
        return self.estimate_window(None)

    def cardinality(self) -> int:
        return int(round(self.estimate()))

    def to_hll(self, cutoff_ts: int | None = None) -> HllSketch:
        """Freeze the window ≥ cutoff into a plain dense HLL (same p, same
        funnel) — byte-identical to an HllSketch built directly from the
        window's elements (the (idx, ρ) pipelines are the same code)."""
        out = HllSketch(self.p, self.funnel)
        out.registers = self.registers_at(cutoff_ts)
        return out

    # -- merge / fold -----------------------------------------------------------
    def merge(self, other: "SlidingHllSketch") -> "SlidingHllSketch":
        self._check_compatible(other)
        self.idx = np.concatenate([self.idx, other.idx])
        self.ts = np.concatenate([self.ts, other.ts])
        self.rho = np.concatenate([self.rho, other.rho])
        self.idx, self.ts, self.rho = _prune(self.idx, self.ts, self.rho)
        if len(self.ts):
            self.max_ts = int(self.ts.max())
        return self

    def fold_to(self, p: int) -> "SlidingHllSketch":
        """EXACT precision fold (the HllSketch.fold_to law applied per
        frontier pair, then re-pruned): byte-identical to a direct build at
        p from the same (element, ts) stream."""
        if not 4 <= p <= self.p:
            raise ValueError(f"can only fold to 4 <= p <= {self.p}, got {p}")
        out = SlidingHllSketch(p, self.funnel)
        if p == self.p:
            out.idx, out.ts, out.rho = self.idx.copy(), self.ts.copy(), self.rho.copy()
            out.max_ts = self.max_ts
            return out
        s = self.p - p
        idx1 = self.idx.astype(np.uint64)
        discarded = idx1 & np.uint64((1 << s) - 1)
        rho_d = _leading_zero_rho(discarded << np.uint64(64 - s), s)
        rho2 = np.where(
            discarded == 0,
            self.rho.astype(np.uint32) + np.uint32(s),
            rho_d.astype(np.uint32),
        ).astype(np.uint8)
        out.idx, out.ts, out.rho = _prune(
            (idx1 >> np.uint64(s)).astype(np.int64), self.ts.copy(), rho2
        )
        out.max_ts = int(out.ts.max()) if len(out.ts) else None
        return out

    # -- introspection ----------------------------------------------------------
    def relative_error_bound(self, nsigma: float = 3.0) -> float:
        return nsigma * 1.04 / math.sqrt(self.m)

    @property
    def size(self) -> int:
        return len(self.idx)

    def is_empty(self) -> bool:
        return len(self.idx) == 0

    def clear(self) -> None:
        self.idx = np.zeros(0, dtype=np.int64)
        self.ts = np.zeros(0, dtype=np.int64)
        self.rho = np.zeros(0, dtype=np.uint8)
        self.max_ts = None
