"""Reservoir sampling kernel (distributed, weighted-mergeable).

Reference: /root/reference/src/reservoirsampling.rs:62-165 — fixed-size
uniform sample of a stream (fill k, then replace index ``j ~ U(0, i)``
if ``j < k``; the reference adds a geometric-skip fast path after 4k
elements which a vectorized batch update doesn't need).

The reference has NO merge (SURVEY.md §2 note). The distributed variant
uses the standard weighted merge: each kept item of a reservoir that has
seen ``n`` elements "represents" ``n / k_kept`` stream elements; merging
draws a k-sample from the union with Efraimidis–Spirakis exponential
keys (key = u^(1/w)), which is the textbook weighted sample without
replacement. Uniformity over the concatenated stream is preserved in
distribution; the per-partition path is exactly Algorithm R.

Determinism: all randomness derives from splitmix64 counters seeded by
(seed, n_seen) — same input partitioning ⇒ byte-identical states, which
the checkpoint/resume contract requires. Different partition *orders*
give different (equally valid) samples; tests assert distributional
properties (reference style, reservoirsampling.rs:208-222), not bytes.
"""

from __future__ import annotations

import numpy as np

from .codec import check_mergeable, pack, unpack
from .hashing import splitmix64, uniform01

DEFAULT_SEED = 0x5EEDC0DE


def _rand_u01(seed: int, stream: int, start: int, count: int) -> np.ndarray:
    """Deterministic counter-based uniforms: splitmix64(seed ⊕ stream, t)."""
    t = np.arange(start, start + count, dtype=np.uint64)
    with np.errstate(over="ignore"):
        stream_key = np.uint64(seed) + np.uint64(stream) * np.uint64(0x9E3779B97F4A7C15)
        mixed = splitmix64(t ^ splitmix64(stream_key))
    return uniform01(mixed)


class Reservoir:
    """Fixed-size uniform sample over float64 values (ids/tokens cast)."""

    kind = "reservoir"
    input = "float"
    merge_contract = "bounded"

    def __init__(self, k: int = 100, seed: int = DEFAULT_SEED, _state: dict | None = None):
        if k <= 0:
            raise ValueError(f"k ({k}) must be > 0")
        self.k = int(k)
        self.seed = int(seed)
        if _state is not None:
            self.sample = _state["sample"]
            self.n = _state["n"]
        else:
            self.sample = np.empty(0, dtype=np.float64)
            self.n = 0

    def params(self) -> dict:
        return {"k": self.k, "seed": self.seed}

    def is_empty(self) -> bool:
        return self.n == 0

    def update(self, values: np.ndarray) -> None:
        """Vectorized Algorithm R over a batch."""
        v = np.ascontiguousarray(values, dtype=np.float64)
        if v.size == 0:
            return
        # phase 1: fill
        if self.sample.size < self.k:
            take = min(self.k - self.sample.size, v.size)
            self.sample = np.concatenate([self.sample, v[:take]])
            self.n += take
            v = v[take:]
            if v.size == 0:
                return
        # phase 2: element t (0-based global index) replaces slot j if
        # j = floor(u * (t+1)) < k
        t = np.arange(self.n, self.n + v.size, dtype=np.int64)
        u = _rand_u01(self.seed, 1, self.n, v.size)
        j = np.floor(u * (t + 1)).astype(np.int64)
        mask = j < self.k
        # sequential last-wins per slot: keep the LAST batch element
        # hitting each slot (what the per-element loop would leave)
        idx = j[mask]
        vals = v[mask]
        if idx.size:
            # vectorized last-wins: reverse, take first occurrence per slot
            rev_idx = idx[::-1]
            rev_vals = vals[::-1]
            slots, first_pos = np.unique(rev_idx, return_index=True)
            self.sample = self.sample.copy()
            self.sample[slots] = rev_vals[first_pos]
        self.n += int(t.size)

    def merge(self, other: "Reservoir") -> "Reservoir":
        check_mergeable(self.kind, self.params(), other.params())
        if other.n == 0:
            return self
        if self.n == 0:
            self.sample, self.n = other.sample.copy(), other.n
            return self
        items = np.concatenate([self.sample, other.sample])
        weights = np.concatenate(
            [
                np.full(self.sample.size, self.n / self.sample.size),
                np.full(other.sample.size, other.n / other.sample.size),
            ]
        )
        # Efraimidis–Spirakis keys, deterministic from merged n
        u = _rand_u01(self.seed, 2, self.n + other.n, items.size)
        keys = u ** (1.0 / weights)
        order = np.argsort(-keys, kind="stable")[: self.k]
        self.sample = items[np.sort(order)]
        self.n += other.n
        return self

    def to_bytes(self) -> bytes:
        payload = (
            np.int64(self.n).tobytes()
            + np.int64(self.sample.size).tobytes()
            + self.sample.tobytes()
        )
        return pack(self.kind, self.params(), payload)

    @classmethod
    def from_bytes(cls, data: bytes) -> "Reservoir":
        _, params, payload = unpack(data, cls.kind)
        n = int(np.frombuffer(payload, dtype=np.int64, count=1)[0])
        sz = int(np.frombuffer(payload, dtype=np.int64, count=1, offset=8)[0])
        sample = np.frombuffer(payload, dtype=np.float64, count=sz, offset=16).copy()
        return cls(params["k"], params["seed"], _state={"sample": sample, "n": n})
