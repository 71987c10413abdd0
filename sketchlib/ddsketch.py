"""DDSketch — relative-error quantiles (Masson, Lee, Rim: "DDSketch: A
Fast and Fully-Mergeable Quantile Sketch with Relative-Error
Guarantees", VLDB 2019).

Completes the quantile family next to TDigest (value-error near the
median, reference semantics from /root/reference/src/tdigest.rs) and
KLL (uniform rank-error): DDSketch answers ``quantile(q)`` with a
RELATIVE value error ≤ alpha at every rank — the right guarantee for
long-tailed positive measures (latencies, token counts, prices) where
a fixed absolute error is meaningless at the tail. Not in the
reference; included as an extra (SURVEY §2.6) from the public paper.

Design (paper §2.1, unbounded store + loud cap):

- bucket ``i = ceil(log_gamma(|x|))`` with ``gamma = (1+alpha)/(1-alpha)``;
  bucket i covers ``(gamma^(i-1), gamma^i]`` and the midpoint estimate
  ``2*gamma^i/(gamma+1)`` is within alpha of every value in it.
- state = two sparse sorted (int32 bucket, int64 count) stores (positive
  and negative values) + a zero count + n. Merge is a bucket-wise
  counter add — fully associative/commutative, so the merged state is
  BYTE-IDENTICAL to a single-stream build under ANY partitioning and
  merge-tree shape (the strongest merge class in this library, shared
  with HLL/CMS/Bloom/KMV; t-digest and KLL are only
  estimate-equivalent). Hypothesis-fuzzed in tests/test_property.py.
- instead of the paper's collapsing variant (which trades the lowest
  buckets for a hard memory bound and makes merge order-dependent),
  the store is unbounded with a ``max_buckets`` guard that raises
  loudly: for int64/float data the index range is tiny (alpha=0.01 ⇒
  |i| ≤ ~37k even at float64 denormals, and real positive data spans
  a few hundred buckets), so the guard is a correctness tripwire, not
  a working limit.
"""

from __future__ import annotations

import numpy as np

from .codec import check_mergeable, pack, unpack


class DDSketch:
    """Relative-error quantile sketch over float64 values."""

    kind = "ddsketch"
    input = "float"
    merge_contract = "bytes"

    def __init__(
        self,
        alpha: float = 0.01,
        max_buckets: int = 8192,
        _state: dict | None = None,
    ):
        if not (0.0 < alpha < 1.0):
            raise ValueError(f"alpha ({alpha}) must be in (0, 1)")
        if int(max_buckets) < 1:
            raise ValueError(f"max_buckets ({max_buckets}) must be >= 1")
        self.alpha = float(alpha)
        self.max_buckets = int(max_buckets)
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._lg = np.log(self.gamma)
        if _state is not None:
            self.pos_idx = _state["pos_idx"]
            self.pos_cnt = _state["pos_cnt"]
            self.neg_idx = _state["neg_idx"]
            self.neg_cnt = _state["neg_cnt"]
            self.zero = int(_state["zero"])
            self.n = int(_state["n"])
        else:
            self.pos_idx = np.empty(0, dtype=np.int32)
            self.pos_cnt = np.empty(0, dtype=np.int64)
            self.neg_idx = np.empty(0, dtype=np.int32)
            self.neg_cnt = np.empty(0, dtype=np.int64)
            self.zero = 0
            self.n = 0

    def params(self) -> dict:
        return {"alpha": self.alpha, "max_buckets": self.max_buckets}

    def is_empty(self) -> bool:
        return self.n == 0

    # -- build ------------------------------------------------------------

    def _buckets(self, mag: np.ndarray) -> np.ndarray:
        # i = ceil(log_gamma(x)); round-trip near-exact powers through a
        # half-ulp nudge is unnecessary: any consistent mapping keeps
        # the (gamma^(i-1), gamma^i] containment within float error
        idx = np.ceil(np.log(mag) / self._lg)
        # ADVICE r5: a direct astype(int32) wraps silently for alpha
        # below ~2e-7 (one large-magnitude value → index beyond int32,
        # a WRONG bucket the max_buckets guard never sees); range-check
        # in float before narrowing
        if idx.size and (np.abs(idx) >= 2**31).any():
            raise OverflowError(
                "DDSketch bucket index exceeds int32 range: alpha too small "
                "for this magnitude span"
            )
        return idx.astype(np.int32)

    @staticmethod
    def _absorb(
        idx: np.ndarray, cnt: np.ndarray, add_idx: np.ndarray, add_cnt: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        all_idx = np.concatenate([idx, add_idx.astype(np.int32)])
        all_cnt = np.concatenate([cnt, add_cnt.astype(np.int64)])
        order = np.argsort(all_idx, kind="stable")
        uniq, start = np.unique(all_idx[order], return_index=True)
        return uniq, (np.add.reduceat(all_cnt[order], start) if uniq.size else all_cnt[:0])

    def update(self, values: np.ndarray) -> None:
        v = np.ascontiguousarray(values, dtype=np.float64)
        if v.size == 0:
            return
        if not np.isfinite(v).all():
            raise ValueError("DDSketch values must be finite (reference "
                             "tdigest.rs:828 applies the same contract)")
        self.zero += int((v == 0.0).sum())
        for sign, store in ((1.0, "pos"), (-1.0, "neg")):
            part = v[(v * sign) > 0.0]
            if part.size == 0:
                continue
            bi, bc = np.unique(self._buckets(np.abs(part)), return_counts=True)
            idx, cnt = self._absorb(
                getattr(self, f"{store}_idx"), getattr(self, f"{store}_cnt"), bi, bc
            )
            setattr(self, f"{store}_idx", idx)
            setattr(self, f"{store}_cnt", cnt)
        self.n += int(v.size)
        self._check_cap()

    def _check_cap(self) -> None:
        if self.pos_idx.size + self.neg_idx.size > self.max_buckets:
            raise OverflowError(
                f"DDSketch exceeded max_buckets={self.max_buckets}; raise "
                "alpha (wider buckets) or max_buckets — the unbounded "
                "store is deliberate so merges stay byte-identical"
            )

    # -- query ------------------------------------------------------------

    def _walk(self) -> tuple[np.ndarray, np.ndarray]:
        """(values ascending, counts) across neg | zero | pos stores."""
        neg_vals = -(2.0 * np.power(self.gamma, self.neg_idx[::-1].astype(np.float64))
                     / (self.gamma + 1.0))
        pos_vals = (2.0 * np.power(self.gamma, self.pos_idx.astype(np.float64))
                    / (self.gamma + 1.0))
        vals = np.concatenate([neg_vals, [0.0] if self.zero else [], pos_vals])
        cnts = np.concatenate(
            [
                self.neg_cnt[::-1],
                [self.zero] if self.zero else [],
                self.pos_cnt,
            ]
        ).astype(np.int64)
        return vals, cnts

    def quantile(self, q: float) -> float:
        """Value within ``alpha`` relative error of the exact q-quantile
        element (rank ``floor(q*(n-1))``, 0-indexed)."""
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"q ({q}) must be in [0, 1]")
        if self.n == 0:
            raise ValueError("quantile of an empty DDSketch")
        rank = int(np.floor(q * (self.n - 1)))
        vals, cnts = self._walk()
        cum = np.cumsum(cnts)
        pos = int(np.searchsorted(cum, rank + 1))
        return float(vals[pos])

    def quantiles(self, qs) -> np.ndarray:
        """Batch quantiles with ONE store walk (identical results to
        per-q :meth:`quantile`, pytest-asserted)."""
        if self.n == 0:
            raise ValueError("quantile of an empty DDSketch")
        qs = np.asarray(list(qs), dtype=np.float64)
        if ((qs < 0.0) | (qs > 1.0)).any():
            raise ValueError("quantiles must be in [0, 1]")
        ranks = np.floor(qs * (self.n - 1)).astype(np.int64)
        vals, cnts = self._walk()
        cum = np.cumsum(cnts)
        return vals[np.searchsorted(cum, ranks + 1)]

    def cdf(self, x: float) -> float:
        """Estimated fraction of values <= x: full counts for buckets
        whose midpoint estimate is <= x. Inverse-consistent with
        :meth:`quantile` (both read the same midpoints), and bracketed
        by the exact cdf at x/(1+2α) and x·(1+2α) — the value window a
        bucket's membership can straddle (tested)."""
        if self.n == 0:
            raise ValueError("cdf of an empty DDSketch")
        vals, cnts = self._walk()
        return float(cnts[vals <= float(x)].sum()) / float(self.n)

    def count(self) -> int:
        return self.n

    # -- merge / codec ------------------------------------------------------

    def merge(self, other: "DDSketch") -> "DDSketch":
        check_mergeable(self.kind, self.params(), other.params())
        self.pos_idx, self.pos_cnt = self._absorb(
            self.pos_idx, self.pos_cnt, other.pos_idx, other.pos_cnt
        )
        self.neg_idx, self.neg_cnt = self._absorb(
            self.neg_idx, self.neg_cnt, other.neg_idx, other.neg_cnt
        )
        self.zero += other.zero
        self.n += other.n
        self._check_cap()
        return self

    def to_bytes(self) -> bytes:
        payload = (
            np.int64(self.n).tobytes()
            + np.int64(self.zero).tobytes()
            + np.int64(self.pos_idx.size).tobytes()
            + np.int64(self.neg_idx.size).tobytes()
            + self.pos_idx.tobytes()
            + self.pos_cnt.tobytes()
            + self.neg_idx.tobytes()
            + self.neg_cnt.tobytes()
        )
        return pack(self.kind, self.params(), payload)

    @classmethod
    def from_bytes(cls, data: bytes) -> "DDSketch":
        _, params, payload = unpack(data, cls.kind)
        n, zero, np_, nn = (int(x) for x in np.frombuffer(payload, dtype=np.int64, count=4))
        off = 32
        pos_idx = np.frombuffer(payload, dtype=np.int32, count=np_, offset=off).copy()
        off += 4 * np_
        pos_cnt = np.frombuffer(payload, dtype=np.int64, count=np_, offset=off).copy()
        off += 8 * np_
        neg_idx = np.frombuffer(payload, dtype=np.int32, count=nn, offset=off).copy()
        off += 4 * nn
        neg_cnt = np.frombuffer(payload, dtype=np.int64, count=nn, offset=off).copy()
        return cls(
            params["alpha"],
            params["max_buckets"],
            _state={
                "pos_idx": pos_idx,
                "pos_cnt": pos_cnt,
                "neg_idx": neg_idx,
                "neg_cnt": neg_cnt,
                "zero": zero,
                "n": n,
            },
        )
