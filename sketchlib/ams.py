"""CountSketch / AMS sketch — signed frequency table with UNBIASED point
estimates and a second-frequency-moment (F2 / self-join size) estimator.

Public constructions: Charikar, Chen, Farach-Colton, "Finding Frequent
Items in Data Streams" (ICALP 2002) — the CountSketch table; Alon,
Matias, Szegedy, "The Space Complexity of Approximating the Frequency
Moments" (STOC 1996) — the F2 tug-of-war estimator, which each
CountSketch row computes as its sum of squared counters. Not part of
the pdatastructs.rs reference — added because the pipeline needs what
CMS cannot give:

- point estimates that are UNBIASED (CMS only over-estimates; the
  median of d signed rows here has zero bias, error ~ sqrt(F2/w) per
  row), so summed estimates over many keys don't drift upward, and
- F2 = Σ_x count(x)² — the self-join size. F2/n² is exactly the
  collision probability a skew-aware planner needs: it prices a
  self-join / shuffle BEFORE running it (``sketchlib.salt`` decides
  from exact group counts; this is the sketch that scales that
  decision to unbounded key spaces).

Guarantees (asserted in tests and the driver certificate):
- E[row point estimate] = true count; the MEDIAN over d rows is within
  ±3·sqrt(F2/w) of truth with high probability per row (Chebyshev),
- each row's Σ table² is an unbiased F2 estimator with
  Var ≤ 2·F2²/w; the median of d rows is within (1 ± 3/sqrt(w))·F2
  with high probability,
- merge = elementwise table sum (fully mergeable, associative,
  commutative — the standard sketchlib aggregator contract).

Same kernel surface as cms.py: vectorized updates over pre-hashed
uint64 batches (strings are hashed JVM-side), dense batches accumulate
via per-row bincount, int64 counters with explicit overflow checks,
versioned codec round-trip.
"""

from __future__ import annotations

import numpy as np

from .codec import check_mergeable, pack, unpack
from .hashing import DEFAULT_SEED, hash_i64, k_positions, mix_seed, splitmix64

__all__ = ["CountSketch"]

_U = np.uint64
# |counters| beyond this risks int64 overflow on the next dense batch
_MAX_ABS = np.int64(1) << np.int64(62)
_SIGN_STREAM = _U(0xC2B2AE3D27D4EB4F)


class CountSketch:
    """``CountSketch(w, d)`` — d independent signed rows of width w.

    ``w`` controls variance (per-row point error ~ sqrt(F2/w)); ``d``
    rows drive the median's failure probability down exponentially.
    """

    kind = "ams"
    input = "hashed"
    merge_contract = "bytes"

    __slots__ = ("w", "d", "seed", "table")

    def __init__(self, w: int, d: int, seed: int = DEFAULT_SEED, table: np.ndarray | None = None):
        if w <= 0 or d <= 0:
            raise ValueError(f"w ({w}) and d ({d}) must be > 0")
        if d > 64:
            raise ValueError(f"d ({d}) must be <= 64 (one sign bit per row)")
        self.w = int(w)
        self.d = int(d)
        self.seed = int(seed)
        if table is None:
            table = np.zeros((self.d, self.w), dtype=np.int64)
        else:
            table = np.asarray(table, dtype=np.int64)
            if table.shape != (self.d, self.w):
                raise ValueError(f"table must have shape ({self.d},{self.w})")
        self.table = table

    @classmethod
    def with_point_error(cls, eps_std: float, d: int = 5, seed: int = DEFAULT_SEED) -> "CountSketch":
        """Width for a per-row point-estimate standard error of
        ``eps_std * sqrt(F2)``: w = ceil(1/eps_std²)."""
        if not (0.0 < eps_std < 1.0):
            raise ValueError(f"eps_std ({eps_std}) must be in (0, 1)")
        return cls(int(np.ceil(1.0 / (eps_std * eps_std))), d, seed)

    # -- params / codec ----------------------------------------------

    def params(self) -> dict:
        return {"w": self.w, "d": self.d, "seed": self.seed}

    def is_empty(self) -> bool:
        return not self.table.any()

    def clear(self) -> None:
        self.table[:] = 0

    # -- update -------------------------------------------------------

    def _signs(self, h: np.ndarray) -> np.ndarray:
        """(d, n) array of ±1: bit i of an independent mix is row i's
        sign for that element (one vectorized mix per batch)."""
        mixed = splitmix64(h ^ mix_seed(self.seed, 3) ^ _SIGN_STREAM)
        bits = (mixed[None, :] >> np.arange(self.d, dtype=np.uint64)[:, None]) & _U(1)
        return (bits.astype(np.int64) << 1) - 1  # 0/1 -> -1/+1

    def update_hashed(self, h: np.ndarray, counts: np.ndarray | None = None) -> None:
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return
        if counts is None:
            counts = np.ones(h.shape, dtype=np.int64)
        else:
            counts = np.asarray(counts).astype(np.int64)
        pos = k_positions(h, self.d, self.w, self.seed)
        signed = self._signs(h) * counts[None, :]
        # same trade as cms.py, signed: float64 bincount weights are
        # integer-exact only while every per-bin partial sum stays below
        # 2^53 in magnitude; Σ|c| bounds every partial sum, so gate on
        # it (ADVICE r5) and fall back to the exact int64 np.add.at path
        abs_sum = float(np.abs(counts.astype(np.float64)).sum())
        if h.size * 4 >= self.w and abs_sum < float(1 << 53):
            # dense batch: bincount per row
            for i in range(self.d):
                self.table[i] += np.bincount(
                    pos[i].astype(np.int64),
                    weights=signed[i].astype(np.float64),
                    minlength=self.w,
                ).astype(np.int64)
        else:
            for i in range(self.d):
                np.add.at(self.table[i], pos[i].astype(np.int64), signed[i])
        if np.abs(self.table).max() > _MAX_ABS:
            raise OverflowError("CountSketch counter overflow (int64 headroom exceeded)")

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values)
        if v.size == 0:
            return
        from .hashing import unique_counts

        uniq, counts = unique_counts(v)
        self.update_hashed(hash_i64(uniq, self.seed), counts)

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        """Fast path for pre-deduplicated batches (count-linear)."""
        self.update_hashed(hash_i64(uniq, self.seed), np.asarray(counts))

    # -- query ----------------------------------------------------------

    def query_points(self, values: np.ndarray) -> np.ndarray:
        """Unbiased point estimates: median over rows of sign·counter."""
        v = np.asarray(values)
        if v.size == 0:
            return np.zeros(0, dtype=np.float64)
        h = hash_i64(v, self.seed)
        pos = k_positions(h, self.d, self.w, self.seed)
        signs = self._signs(h)
        ests = np.empty((self.d, v.size), dtype=np.float64)
        for i in range(self.d):
            ests[i] = signs[i] * self.table[i][pos[i].astype(np.int64)]
        return np.median(ests, axis=0)

    def f2(self) -> float:
        """Self-join size Σ count(x)²: median over rows of Σ table²
        (each row is an unbiased AMS tug-of-war estimator)."""
        sq = (self.table.astype(np.float64) ** 2).sum(axis=1)
        return float(np.median(sq))

    def l2(self) -> float:
        """sqrt(F2) — the stream's L2 norm estimate."""
        return float(np.sqrt(max(self.f2(), 0.0)))

    # -- merge ----------------------------------------------------------

    def merge(self, other: "CountSketch") -> "CountSketch":
        check_mergeable(self.kind, self.params(), other.params())
        self.table += other.table
        if np.abs(self.table).max() > _MAX_ABS:
            raise OverflowError("CountSketch counter overflow in merge")
        return self

    # -- serde ----------------------------------------------------------

    def params_header(self) -> dict:
        return {"kind": self.kind, **self.params()}

    def to_bytes(self) -> bytes:
        return pack(self.kind, self.params(), self.table.tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountSketch":
        _, params, payload = unpack(blob, cls.kind)
        table = np.frombuffer(payload, dtype=np.int64).reshape(
            int(params["d"]), int(params["w"])
        ).copy()
        return cls(params["w"], params["d"], params.get("seed", DEFAULT_SEED), table)
