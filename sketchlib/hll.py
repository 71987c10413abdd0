"""HyperLogLog++ — dense registers, bias-corrected harmonic-mean estimator.

Semantics follow the reference implementation (behavioral spec only):

- register update: ``j = low b bits``, ``w = h >> b``,
  ``rho = clz64(w) + 1 - b``, ``reg[j] = max(reg[j], rho)``
  (/root/reference/src/hyperloglog/mod.rs:181-193)
- estimator: harmonic mean → alpha_m·m²·z, HLL++ 6-nearest-neighbor bias
  correction when e ≤ 5m, linear counting when zero registers exist,
  threshold(b) switch (mod.rs:284-315)
- merge: element-wise register max; params+seed must match
  (mod.rs:317-341)
- relative error bound: sqrt(3·ln2 − 1)/sqrt(m) ≈ 1.04/sqrt(m)
  (mod.rs:168-171)

The empirical correction tables (precisions 4..18) are public data from
the HLL++ paper appendix (Heule/Nunkesser/Hall, EDBT 2013), shipped as
``_hllpp_data.npz``. The kernel is pure numpy — Spark integration lives
in :mod:`sketchlib.agg`.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from .codec import check_mergeable, pack, unpack
from .hashing import DEFAULT_SEED, hash_i64

_U = np.uint64
# pkgutil works from a plain directory AND from a --py-files /
# addPyFile zip, where Path(__file__)-relative opens fail
import io as _io
import pkgutil as _pkgutil

_DATA = np.load(
    _io.BytesIO(_pkgutil.get_data(__package__ or "sketchlib", "_hllpp_data.npz"))
)
_THRESHOLDS = _DATA["thresholds"]  # index b-4
_RAW_ESTIMATE = {b: _DATA[f"raw_{b}"] for b in range(4, 19)}
_BIAS = {b: _DATA[f"bias_{b}"] for b in range(4, 19)}
# 2^-x for x in 0..64 (the reference's POW2MINX lookup, data.rs:4019-4278)
_POW2MIN = 2.0 ** -np.arange(65, dtype=np.float64)


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64 (position of highest set bit,
    1-based; 0 for x==0). Branchless shift cascade — float tricks are NOT
    exact above 2^53."""
    x = x.copy()
    n = np.zeros(x.shape, dtype=np.uint64)
    for shift in (32, 16, 8, 4, 2, 1):
        s = ((x >> n) > _U((1 << shift) - 1)).astype(np.uint64) * _U(shift)
        n += s
    return (n + ((x >> n) > 0).astype(np.uint64)).astype(np.uint8)


class HLL:
    """Mergeable dense HyperLogLog++ sketch."""

    kind = "hll"
    input = "hashed"
    merge_contract = "bytes"

    __slots__ = ("p", "seed", "regs")

    def __init__(self, p: int, seed: int = DEFAULT_SEED, regs: np.ndarray | None = None):
        if not (4 <= int(p) <= 18):
            raise ValueError(f"p ({p}) must be in [4, 18]")
        self.p = int(p)
        self.seed = int(seed)
        m = 1 << self.p
        if regs is None:
            regs = np.zeros(m, dtype=np.uint8)
        else:
            regs = np.asarray(regs, dtype=np.uint8)
            if regs.shape != (m,):
                raise ValueError(f"registers must have shape ({m},), got {regs.shape}")
        self.regs = regs

    # -- properties -------------------------------------------------
    @property
    def m(self) -> int:
        return 1 << self.p

    def relative_error(self) -> float:
        return float(np.sqrt(3.0 * np.log(2.0) - 1.0) / np.sqrt(self.m))

    def is_empty(self) -> bool:
        return not self.regs.any()

    def clear(self) -> None:
        self.regs[:] = 0

    def params(self) -> dict:
        return {"p": self.p, "seed": self.seed}

    # -- update -----------------------------------------------------
    def update_hashed(self, h: np.ndarray) -> None:
        """Consume a batch of pre-computed uint64 element hashes."""
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return
        j = h & _U(self.m - 1)
        w = h >> _U(self.p)
        # rho = clz64(w) + 1 - p  ==  (65 - p) - bit_length(w); rho ≤ 61
        rho = (_U(65 - self.p) - _bit_length_u64(w)).astype(np.uint64)
        # Per-register max without ufunc.at (which is ~100x slower): sort
        # the combined key (j, rho) ascending, then the last entry of each
        # j-group carries that group's max rho.
        key = (j << _U(6)) | rho
        key.sort()
        jj = key >> _U(6)
        last = np.flatnonzero(jj[1:] != jj[:-1])
        idx = np.concatenate([last, [jj.size - 1]])
        ju = jj[idx].astype(np.int64)
        ru = (key[idx] & _U(63)).astype(np.uint8)
        self.regs[ju] = np.maximum(self.regs[ju], ru)

    def update(self, values: np.ndarray) -> None:
        """Consume a batch of integer elements (hashed internally)."""
        self.update_hashed(hash_i64(values, self.seed))

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        """Fast path when the caller already deduplicated the batch
        (duplicates are idempotent for HLL; counts unused)."""
        self.update_hashed(hash_i64(uniq, self.seed))

    # -- estimate ---------------------------------------------------
    def _estimate_bias(self, e: float) -> float:
        """Faithful port of the reference's expanding 6-NN search
        (mod.rs:209-272), replacing the earlier argsort-6NN: the two
        differ at boundaries. Two deliberate quirks are preserved:
        (1) on an EXACT table hit both start pointers are the hit index
        and the first (left) pick does not advance the right pointer,
        so the hit index is counted twice in the 6-neighbor mean;
        (2) the search uses Rust ``binary_search_by`` semantics (early
        return on a probed midpoint equal to e), which matters because
        several precisions' raw tables are not strictly monotonic.
        Scalar 6-step loop — count() runs once per merged state row."""
        raw = _RAW_ESTIMATE[self.p]
        bias = _BIAS[self.p]
        n = raw.size
        # Rust slice::binary_search_by: midpoint halving, early Ok(mid)
        left, right = 0, n
        hit = -1
        while left < right:
            mid = (left + right) >> 1
            v = raw[mid]
            if v < e:
                left = mid + 1
            elif v > e:
                right = mid
            else:
                hit = mid
                break
        if hit >= 0:
            il, ir = hit, hit
        elif left == 0:
            il, ir = -1, 0
        elif left == n:
            il, ir = n - 1, -1
        else:
            il, ir = left - 1, left
        total = 0.0
        for _ in range(6):
            if il >= 0 and ir >= 0:
                # ties (equal deltas) prefer the LEFT index
                if abs(raw[ir] - e) < abs(raw[il] - e):
                    pick, go_right = ir, True
                else:
                    pick, go_right = il, False
            elif il >= 0:
                pick, go_right = il, False
            else:
                pick, go_right = ir, True
            total += float(bias[pick])
            if go_right:
                ir = pick + 1 if pick < n - 1 else -1
            else:
                il = pick - 1 if pick > 0 else -1
        return total / 6.0

    def count(self) -> int:
        m = float(self.m)
        z = 1.0 / _POW2MIN[self.regs].sum()
        if self.m >= 128:
            am = 0.7213 / (1.0 + 1.079 / m)
        elif self.m >= 64:
            am = 0.709
        elif self.m >= 32:
            am = 0.697
        else:
            am = 0.673
        e = am * m * m * z
        e_star = e - self._estimate_bias(e) if e <= 5.0 * m else e
        v = int(np.count_nonzero(self.regs == 0))
        h = m * np.log(m / v) if v != 0 else e_star
        threshold = float(_THRESHOLDS[self.p - 4])
        return int(h) if h <= threshold else int(e_star)

    # -- merge ------------------------------------------------------
    def merge(self, other: "HLL") -> "HLL":
        check_mergeable(self.kind, self.params(), other.params())
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    # -- serde ------------------------------------------------------
    def to_bytes(self) -> bytes:
        return pack(self.kind, self.params(), self.regs.tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLL":
        _, params, payload = unpack(data, cls.kind)
        regs = np.frombuffer(payload, dtype=np.uint8)
        return cls(params["p"], params["seed"], regs.copy())
