"""Bloom filter — approximate set membership (no false negatives).

Behavioral spec from the reference:

- sizing: ``with_params(m, k)`` or from properties
  ``k = floor(−log₂ p)``, ``m = floor(−n·ln p / ln² 2)``
  (/root/reference/src/filters/bloomfilter.rs:177-223; golden n=1000,
  p=0.1 → k=3, m=4792, bloomfilter.rs:462-466)
- insert: set k bits chosen by enhanced double hashing
  (bloomfilter.rs:256-263)
- query: all k bits set (bloomfilter.rs:306-313)
- union: bitwise OR, params must match (bloomfilter.rs:265-292)
- cardinality estimate: ``−m/k · ln(1 − X/m)`` with X = popcount
  (bloomfilter.rs:296-304)

State is an m-bit bitset packed into uint64 words.
"""

from __future__ import annotations

import math
import sys

import numpy as np

from .codec import check_mergeable, pack, unpack
from .hashing import DEFAULT_SEED, hash_i64, k_positions

_U = np.uint64
# the packbits(bitorder="little").view(uint64) dense path maps bit j of
# byte i to word-bit i*8+j only on little-endian hosts; elsewhere fall
# back to the (endian-agnostic) shift/or sparse path
_LITTLE_ENDIAN = sys.byteorder == "little"

_HAS_BITCOUNT = hasattr(np, "bitwise_count")
_POPCNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint64)


def _popcount(words: np.ndarray) -> int:
    if _HAS_BITCOUNT:
        return int(np.bitwise_count(words).sum())
    return int(_POPCNT8[words.view(np.uint8)].sum())


class BloomFilter:
    kind = "bloom"
    input = "hashed"
    merge_contract = "bytes"

    __slots__ = ("m", "k", "seed", "bits")

    def __init__(self, m: int, k: int, seed: int = DEFAULT_SEED, bits: np.ndarray | None = None):
        if m <= 0 or k <= 0:
            raise ValueError(f"m ({m}) and k ({k}) must be > 0")
        self.m = int(m)
        self.k = int(k)
        self.seed = int(seed)
        n_words = (self.m + 63) // 64
        if bits is None:
            bits = np.zeros(n_words, dtype=np.uint64)
        else:
            bits = np.asarray(bits, dtype=np.uint64)
            if bits.shape != (n_words,):
                raise ValueError(f"bits must have shape ({n_words},)")
        self.bits = bits

    @classmethod
    def with_properties(cls, n: int, p: float, seed: int = DEFAULT_SEED) -> "BloomFilter":
        """k = floor(−log₂ p), m = floor(−n·ln p / ln² 2) — reference formula
        (bloomfilter.rs:189-223)."""
        if n <= 0:
            raise ValueError(f"n ({n}) must be > 0")
        if not (0.0 < p < 1.0):
            raise ValueError(f"p ({p}) must be in (0, 1)")
        k = max(1, int(math.floor(-math.log2(p))))
        m = int(math.floor(-(n * math.log(p)) / (math.log(2.0) ** 2)))
        return cls(m, k, seed)

    def params(self) -> dict:
        return {"m": self.m, "k": self.k, "seed": self.seed}

    def is_empty(self) -> bool:
        return not self.bits.any()

    def clear(self) -> None:
        self.bits[:] = 0

    # -- update -----------------------------------------------------
    def update_hashed(self, h: np.ndarray) -> None:
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return
        pos = k_positions(h, self.k, self.m, self.seed).ravel()
        if pos.size >= (self.m >> 6) and _LITTLE_ENDIAN:
            # dense batch: setting bits needs no read-modify-write, so a
            # bool scatter + packbits beats ufunc.at ~3x (measured 6.4 ->
            # 2.0 ms on 570k positions at m=2^20; byte-identical result).
            # Costs an m-byte temp, hence the density gate. The temp is
            # padded to the 64-bit word boundary (m need not be a
            # multiple of 64; pos < m so padding bits stay zero).
            tmp = np.zeros(self.bits.size * 64, dtype=bool)
            tmp[pos.astype(np.int64)] = True
            self.bits |= np.packbits(tmp, bitorder="little").view(np.uint64)
        else:
            words = (pos >> _U(6)).astype(np.int64)
            masks = _U(1) << (pos & _U(63))
            np.bitwise_or.at(self.bits, words, masks)

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values)
        if v.size == 0:
            return
        # dedupe: idempotent inserts, and unique() is cheaper than k
        # scattered RMWs per duplicate
        from .hashing import unique_counts

        self.update_hashed(hash_i64(unique_counts(v)[0], self.seed))

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        """Fast path when the caller already deduplicated the batch
        (inserts are idempotent; counts unused)."""
        self.update_hashed(hash_i64(uniq, self.seed))

    def insert(self, values: np.ndarray) -> np.ndarray:
        """Batch insert returning per-element "was previously absent"
        — the reference's ``insert(&x) -> bool`` (bloomfilter.rs:
        256-263), vectorized with exact sequential semantics: within
        one batch only an element's FIRST occurrence can report new."""
        v = np.asarray(values)
        if v.size == 0:
            return np.zeros(0, dtype=bool)
        h = hash_i64(v, self.seed)
        uniq, first, _inv = np.unique(h, return_index=True, return_inverse=True)
        present_before = self.query_hashed(uniq)
        self.update_hashed(uniq)
        out = np.zeros(v.size, dtype=bool)
        out[first[~present_before]] = True
        return out

    # -- query ------------------------------------------------------
    def query_hashed(self, h: np.ndarray) -> np.ndarray:
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return np.zeros(0, dtype=bool)
        pos = k_positions(h, self.k, self.m, self.seed)
        words = (pos >> _U(6)).astype(np.int64)
        bitidx = pos & _U(63)
        hits = (self.bits[words] >> bitidx) & _U(1)
        return hits.all(axis=0)

    def query(self, values: np.ndarray) -> np.ndarray:
        """Vectorized membership: bool per value (no false negatives)."""
        v = np.asarray(values)
        if v.size == 0:
            return np.zeros(0, dtype=bool)
        return self.query_hashed(hash_i64(v, self.seed))

    def len_estimate(self) -> int:
        """Approximate number of distinct inserted elements
        (bloomfilter.rs:296-304)."""
        x = _popcount(self.bits)
        if x == 0:
            return 0
        m = float(self.m)
        return int(-m / self.k * math.log(1.0 - x / m))

    # -- merge ------------------------------------------------------
    def merge(self, other: "BloomFilter") -> "BloomFilter":
        check_mergeable(self.kind, self.params(), other.params())
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        return self

    union = merge

    # -- serde ------------------------------------------------------
    def to_bytes(self) -> bytes:
        return pack(self.kind, self.params(), self.bits.tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        _, params, payload = unpack(data, cls.kind)
        bits = np.frombuffer(payload, dtype=np.uint64)
        return cls(params["m"], params["k"], params["seed"], bits.copy())
