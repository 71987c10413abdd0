"""KLL quantile sketch (Karnin–Lang–Liberty, FOCS 2016).

Not in the reference library — required by the build target
(BASELINE.json north_rule; PAPERS.md "KLL±"/"Relative Error Streaming
Quantiles"). Same mergeable-aggregator contract as the other kernels:

- state: a stack of compactors; level h holds items of weight 2^h;
  capacity shrinks geometrically (factor 2/3) from the top level down
- update: append to level 0; when a level overflows, sort it and keep
  every other item (random parity), promoting survivors to level h+1
- merge: concatenate level-wise, then run the same compaction
- rank/quantile error: ε ≈ O(1/k); deterministic given (seed, state)
  because coin flips come from a counted splitmix64 stream

Values are float64. All compaction paths are vectorized numpy.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import check_mergeable, pack, unpack
from .hashing import DEFAULT_SEED, splitmix64

_C = 2.0 / 3.0


class KLL:
    kind = "kll"
    input = "float"
    merge_contract = "bounded"

    __slots__ = ("k", "seed", "levels", "n", "rng_counter", "min", "max")

    def __init__(self, k: int = 200, seed: int = DEFAULT_SEED,
                 levels: list[np.ndarray] | None = None, n: int = 0,
                 rng_counter: int = 0, vmin: float = np.inf, vmax: float = -np.inf):
        if k < 8:
            raise ValueError(f"k ({k}) must be >= 8")
        self.k = int(k)
        self.seed = int(seed)
        self.levels = levels if levels is not None else [np.zeros(0)]
        self.n = int(n)
        self.rng_counter = int(rng_counter)
        self.min = float(vmin)
        self.max = float(vmax)

    def params(self) -> dict:
        return {"k": self.k, "seed": self.seed}

    def is_empty(self) -> bool:
        return self.n == 0

    def _capacity(self, level: int) -> int:
        depth = len(self.levels) - 1 - level
        return max(2, int(np.ceil(self.k * (_C**depth))))

    def _coin(self) -> int:
        self.rng_counter += 1
        h = splitmix64(np.uint64(self.seed) ^ np.uint64(self.rng_counter * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))
        return int(h) & 1

    def _compress(self) -> None:
        h = 0
        while h < len(self.levels):
            if self.levels[h].size > self._capacity(h):
                buf = np.sort(self.levels[h])
                off = self._coin()
                # survivors carry weight 2^(h+1); the dropped alternate
                # half is what the ε-rank-error bound accounts for
                keep = buf[off::2]
                self.levels[h] = np.zeros(0)
                if h + 1 == len(self.levels):
                    self.levels.append(np.zeros(0))
                self.levels[h + 1] = np.concatenate([self.levels[h + 1], keep])
                # a new top level shrinks lower capacities — rescan
                h = 0
            else:
                h += 1

    # -- update -----------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        x = np.asarray(values, dtype=np.float64).ravel()
        if x.size == 0:
            return
        if not np.isfinite(x).all():
            raise ValueError("values must be finite")
        self.n += int(x.size)
        self.min = min(self.min, float(x.min()))
        self.max = max(self.max, float(x.max()))
        self.levels[0] = np.concatenate([self.levels[0], x])
        self._compress()

    # -- queries ----------------------------------------------------
    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, buf in enumerate(self.levels):
            if buf.size:
                vals.append(buf)
                wts.append(np.full(buf.size, float(1 << h)))
        if not vals:
            return np.zeros(0), np.zeros(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"q ({q}) must be in [0, 1]")
        v, w = self._weighted_items()
        if v.size == 0:
            return float("nan")
        if q <= 0.0:
            return self.min
        if q >= 1.0:
            return self.max
        cum = np.cumsum(w)
        target = q * cum[-1]
        i = int(np.searchsorted(cum - 0.5 * w, target, side="left"))
        return float(v[min(i, v.size - 1)])

    def quantiles(self, qs: np.ndarray) -> np.ndarray:
        return np.array([self.quantile(float(q)) for q in np.asarray(qs).ravel()])

    def rank(self, x: float) -> float:
        """Approximate fraction of items ≤ x."""
        v, w = self._weighted_items()
        if v.size == 0:
            return 0.0
        i = int(np.searchsorted(v, x, side="right"))
        return float(w[:i].sum() / w.sum())

    # -- merge ------------------------------------------------------
    def merge(self, other: "KLL") -> "KLL":
        check_mergeable(self.kind, self.params(), other.params())
        self.n += other.n
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        self.rng_counter = max(self.rng_counter, other.rng_counter) + 1
        while len(self.levels) < len(other.levels):
            self.levels.append(np.zeros(0))
        for h, buf in enumerate(other.levels):
            if buf.size:
                self.levels[h] = np.concatenate([self.levels[h], buf])
        self._compress()
        return self

    # -- serde ------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = struct.pack("<qqqddq", self.n, self.rng_counter, len(self.levels),
                           self.min, self.max, 0)
        parts = [head]
        for buf in self.levels:
            parts.append(struct.pack("<q", buf.size))
            parts.append(np.ascontiguousarray(buf, dtype=np.float64).tobytes())
        return pack(self.kind, self.params(), b"".join(parts))

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        _, params, payload = unpack(data, cls.kind)
        n, counter, n_levels, vmin, vmax, _ = struct.unpack_from("<qqqddq", payload, 0)
        off = struct.calcsize("<qqqddq")
        levels = []
        for _ in range(n_levels):
            (sz,) = struct.unpack_from("<q", payload, off)
            off += 8
            levels.append(np.frombuffer(payload, dtype=np.float64, count=sz, offset=off).copy())
            off += 8 * sz
        return cls(params["k"], params["seed"], levels, n, counter, vmin, vmax)
