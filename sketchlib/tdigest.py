"""t-digest — mergeable quantile/CDF sketch (Dunning/Ertl).

Behavioral spec from the reference (semantics only, reimplemented):

- scale functions K0..K3 with the same formulas and clamping
  (/root/reference/src/tdigest.rs:66-299); K1 is the default the
  reference uses in its own accuracy tests
- compaction: sort centroids by mean, greedily fuse while
  ``q ≤ q_limit`` with ``q_limit = f_inv(f(q0) + 1)``
  (tdigest.rs:358-401)
- quantile: interpolated centroid scan; the tails interpolate against
  the tracked min/max; NaN when empty; q outside [0,1] raises
  (tdigest.rs:410-446,835-850)
- cdf: inverse interpolation (tdigest.rs:448-481)
- insert validation: x must be finite, w ≥ 0 (w = 0 is a no-op)
  (tdigest.rs:813-833)
- count/sum/mean/min/max from centroids (tdigest.rs:483-489,869-916)

The reference has no cross-digest merge; distributed merge = concatenate
centroid lists + one compaction pass (the compaction IS a merge of
centroid sets — SURVEY.md §2 M6). Large batches are pre-clustered
vectorized (bucket by floor(f(q))) before the exact greedy pass, so the
Python loop only ever sees O(delta) items.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .codec import check_mergeable, pack, unpack

_TWO_PI = 2.0 * math.pi


class _Scale:
    """Scale function registry; f/f_inv mirror the reference's clamping."""

    @staticmethod
    def f(name: str, delta: float, q, n: int):
        q = np.clip(q, 0.0, 1.0)
        if name == "k0":
            return delta / 2.0 * q
        if name == "k1":
            return delta / _TWO_PI * np.arcsin(2.0 * q - 1.0)
        if name == "k2":
            x = delta / (4.0 * math.log(max(n, 1) / delta) + 24.0)
            with np.errstate(divide="ignore"):
                return x * np.log(q / (1.0 - q))
        if name == "k3":
            x = delta / (4.0 * math.log(max(n, 1) / delta) + 21.0)
            with np.errstate(divide="ignore"):
                return x * np.where(q <= 0.5, np.log(2.0 * q), -np.log(2.0 * (1.0 - q)))
        raise ValueError(f"unknown scale function {name!r}")

    @staticmethod
    def f_inv(name: str, delta: float, k: float, n: int) -> float:
        if name == "k0":
            k = min(max(k, 0.0), delta / 2.0)
            return k * 2.0 / delta
        if name == "k1":
            rng = 0.25 * delta
            k = min(max(k, -rng), rng)
            return (math.sin(k * _TWO_PI / delta) + 1.0) / 2.0
        if name == "k2":
            if math.isinf(k):
                return 1.0 if k > 0 else 0.0
            x = delta / (4.0 * math.log(max(n, 1) / delta) + 24.0)
            z = math.exp(k / x)
            return z / (z + 1.0)
        if name == "k3":
            if math.isinf(k):
                return 1.0 if k > 0 else 0.0
            x = delta / (4.0 * math.log(max(n, 1) / delta) + 21.0)
            return math.exp(k / x) / 2.0 if k <= 0 else 1.0 - math.exp(-k / x) / 2.0
        raise ValueError(f"unknown scale function {name!r}")


def _interpolate(a: float, b: float, t: float) -> float:
    return t * b + (1.0 - t) * a


class TDigest:
    kind = "tdigest"
    input = "weighted"
    merge_contract = "bounded"

    __slots__ = ("delta", "scale", "seed", "sums", "counts", "n_samples", "min", "max")

    def __init__(self, delta: float = 100.0, scale: str = "k1", seed: int = 0,
                 sums: np.ndarray | None = None, counts: np.ndarray | None = None,
                 n_samples: int = 0, vmin: float = math.inf, vmax: float = -math.inf):
        if not (delta > 1.0 and math.isfinite(delta)):
            raise ValueError(f"delta ({delta}) must be greater than 1 and finite")
        if scale not in ("k0", "k1", "k2", "k3"):
            raise ValueError(f"unknown scale function {scale!r}")
        self.delta = float(delta)
        self.scale = scale
        self.seed = int(seed)  # unused (no hashing); kept for uniform headers
        self.sums = np.zeros(0) if sums is None else np.asarray(sums, dtype=np.float64)
        self.counts = np.zeros(0) if counts is None else np.asarray(counts, dtype=np.float64)
        self.n_samples = int(n_samples)
        self.min = float(vmin)
        self.max = float(vmax)

    def params(self) -> dict:
        return {"delta": self.delta, "scale": self.scale, "seed": self.seed}

    def is_empty(self) -> bool:
        return self.counts.size == 0

    @property
    def n_centroids(self) -> int:
        return int(self.counts.size)

    def count(self) -> float:
        return float(self.counts.sum())

    def sum(self) -> float:
        return float(self.sums.sum())

    def mean(self) -> float:
        c = self.count()
        return self.sum() / c if c > 0 else math.nan

    # -- update -----------------------------------------------------
    def update(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        x = np.asarray(values, dtype=np.float64).ravel()
        if x.size == 0:
            return
        if not np.isfinite(x).all():
            raise ValueError("x must be finite")
        if weights is None:
            w = np.ones_like(x)
        else:
            w = np.asarray(weights, dtype=np.float64).ravel()
            if w.shape != x.shape:
                raise ValueError("weights must match values shape")
            if (w < 0).any() or not np.isfinite(w).all():
                raise ValueError("weights must be finite and >= 0")
        self.n_samples += int(x.size)
        keep = w > 0  # zero-weight inserts are no-ops (tdigest.rs:826-830)
        x, w = x[keep], w[keep]
        if x.size == 0:
            return
        self.min = min(self.min, float(x.min()))
        self.max = max(self.max, float(x.max()))
        order = np.argsort(x, kind="stable")
        x, w = x[order], w[order]
        bs, bc = self._precluster(x * w, w)
        self._compact(np.concatenate([self.sums, bs]), np.concatenate([self.counts, bc]))

    def _precluster(self, sums: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized first-pass clustering of a mean-sorted batch: bucket
        by floor(f(q_mid)), fuse buckets with reduceat. Keeps the exact
        greedy pass O(delta) regardless of batch size."""
        if counts.size <= max(64, int(2 * self.delta)):
            return sums, counts
        s = counts.sum()
        qmid = (np.cumsum(counts) - 0.5 * counts) / s
        k = np.floor(_Scale.f(self.scale, self.delta, qmid, self.n_samples)).astype(np.int64)
        starts = np.flatnonzero(np.diff(k, prepend=np.int64(k[0] - 1)))
        return np.add.reduceat(sums, starts), np.add.reduceat(counts, starts)

    def _compact(self, sums: np.ndarray, counts: np.ndarray) -> None:
        """Exact greedy fuse, reference semantics (tdigest.rs:358-401)."""
        if counts.size == 0:
            self.sums, self.counts = sums, counts
            return
        means = sums / counts
        order = np.argsort(means, kind="stable")
        sums, counts = sums[order], counts[order]
        s = float(counts.sum())
        n = self.n_samples
        q0 = 0.0
        q_limit = _Scale.f_inv(
            self.scale, self.delta,
            float(_Scale.f(self.scale, self.delta, q0, n)) + 1.0, n)
        out_s: list[float] = []
        out_c: list[float] = []
        cur_s, cur_c = float(sums[0]), float(counts[0])
        for i in range(1, counts.size):
            q = q0 + (cur_c + float(counts[i])) / s
            if q <= q_limit:
                cur_s += float(sums[i])
                cur_c += float(counts[i])
            else:
                q0 += cur_c / s
                q_limit = _Scale.f_inv(
                    self.scale, self.delta,
                    float(_Scale.f(self.scale, self.delta, q0, n)) + 1.0, n)
                out_s.append(cur_s)
                out_c.append(cur_c)
                cur_s, cur_c = float(sums[i]), float(counts[i])
        out_s.append(cur_s)
        out_c.append(cur_c)
        self.sums = np.asarray(out_s)
        self.counts = np.asarray(out_c)

    # -- queries ----------------------------------------------------
    def quantile(self, q: float) -> float:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"q ({q}) must be in [0, 1]")
        if self.counts.size == 0:
            return math.nan
        counts, means = self.counts, self.sums / self.counts
        s = float(counts.sum())
        limit = s * q
        if limit <= counts[0] * 0.5:  # left tail
            t = limit / (0.5 * float(counts[0]))
            return _interpolate(self.min, float(means[0]), t)
        csum = np.cumsum(counts)
        a = csum - 0.5 * counts  # a_i = cum_before_i + 0.5*c_i
        i = int(np.searchsorted(a, limit, side="left"))
        if i >= counts.size:  # right tail (tdigest.rs:440-445)
            cum = s - 0.5 * float(counts[-1])
            span = s - 0.5 * float(counts[-1])
            t = (limit - cum) / span
            return _interpolate(float(means[-1]), self.max, t)
        # default case: between centroid i-1 and i
        cum_before = float(csum[i - 1]) - 0.5 * float(counts[i - 1])
        span = 0.5 * (float(counts[i - 1]) + float(counts[i]))
        t = (limit - cum_before) / span
        return _interpolate(float(means[i - 1]), float(means[i]), t)

    def cdf(self, x: float) -> float:
        if self.counts.size == 0:
            return 0.0
        if x < self.min:
            return 0.0
        counts, means = self.counts, self.sums / self.counts
        s = float(counts.sum())
        cum = 0.0
        last_mean = self.min
        last_cum = 0.0
        for c, m in zip(counts, means):
            current_cum = cum + 0.5 * float(c)
            if x < m:
                delta = m - last_mean
                t = (x - last_mean) / delta if delta > 0 else 1.0
                return _interpolate(last_cum, current_cum, t) / s
            last_cum = current_cum
            cum += float(c)
            last_mean = float(m)
        if x < self.max:
            delta = self.max - last_mean
            t = (x - last_mean) / delta if delta > 0 else 1.0
            return _interpolate(last_cum, s, t) / s
        return 1.0

    # -- merge ------------------------------------------------------
    def merge(self, other: "TDigest") -> "TDigest":
        check_mergeable(self.kind, self.params(), other.params())
        self.n_samples += other.n_samples
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        self._compact(np.concatenate([self.sums, other.sums]),
                      np.concatenate([self.counts, other.counts]))
        return self

    # -- serde ------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = struct.pack("<qqdd", self.counts.size, self.n_samples, self.min, self.max)
        return pack(self.kind, self.params(), head + self.sums.tobytes() + self.counts.tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        _, params, payload = unpack(data, cls.kind)
        nc, ns, vmin, vmax = struct.unpack_from("<qqdd", payload, 0)
        off = 32
        sums = np.frombuffer(payload, dtype=np.float64, count=nc, offset=off).copy()
        counts = np.frombuffer(payload, dtype=np.float64, count=nc, offset=off + 8 * nc).copy()
        return cls(params["delta"], params["scale"], params["seed"],
                   sums, counts, ns, vmin, vmax)
