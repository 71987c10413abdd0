"""Cuckoo filter: approximate membership with delete + exact len.

Mirrors /root/reference/src/filters/cuckoofilter.rs semantics (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom"):

- fingerprint ``f = 1 + (H0(x) mod (2^l - 1))`` — never 0, 0 marks a free
  slot (cuckoofilter.rs:377-389)
- buckets ``i1 = H1(x) mod n``, ``i2 = i1 ^ H1(f)`` (partial-key cuckoo
  hashing, :370-374); insert tries both, then up to 500 random kicks
  (:433-472, MAX_NUM_KICKS from the paper); a full filter raises
  ``CuckooFilterFull`` after rolling back the kick log (:474-478)
- ``with_properties_4/8``: ``l = ceil(log2(2*bucketsize / fpr))``,
  ``n_buckets = next_pow2(ceil(l/load * n / l))`` with load 0.95 / 0.98
  (:310-335)
- union re-inserts every stored fingerprint, restoring state on overflow
  (:514-555) — a fallible merge, which is why this structure is NOT
  registered in the Spark aggregation topology (SURVEY.md §2.3 M4: a
  merge that can fail mid-aggregation is anti-Spark); it is provided as
  a kernel for parity, with capacity sized so unions cannot overflow.

The kick chain is inherently sequential, so updates run a per-element
Python loop (SURVEY.md U4: "inherently sequential, not vectorizable") —
this is a stretch structure, not on the 100 TB hot path.

Determinism: kicks draw from a splitmix64 counter stream persisted in
the state blob, so replays and resumed runs behave identically.
"""

from __future__ import annotations

import numpy as np

from .codec import check_mergeable, pack, unpack
from .hashing import hash_i64, splitmix64

DEFAULT_SEED = 0x5EEDC0DE
MAX_NUM_KICKS = 500  # from the cuckoo-filter paper


class CuckooFilterFull(RuntimeError):
    pass


class CuckooFilter:
    kind = "cuckoo"

    def __init__(
        self,
        bucketsize: int = 4,
        n_buckets: int = 1024,
        l_fingerprint: int = 16,
        seed: int = DEFAULT_SEED,
        _state: dict | None = None,
    ):
        if bucketsize < 2:
            raise ValueError(f"bucketsize ({bucketsize}) must be greater or equal than 2")
        if n_buckets < 2 or (n_buckets & (n_buckets - 1)):
            raise ValueError(
                f"n_buckets ({n_buckets}) must be a power of 2 and greater or equal than 2"
            )
        if not (1 < l_fingerprint <= 64):
            raise ValueError(
                f"l_fingerprint ({l_fingerprint}) must be greater than 1 and less or equal than 64"
            )
        self.bucketsize = int(bucketsize)
        self.n_buckets = int(n_buckets)
        self.l_fingerprint = int(l_fingerprint)
        self.seed = int(seed)
        if _state is not None:
            self.table = _state["table"]
            self.n_elements = _state["n_elements"]
            self._rng_ctr = _state["rng_ctr"]
        else:
            self.table = np.zeros(self.n_buckets * self.bucketsize, dtype=np.uint64)
            self.n_elements = 0
            self._rng_ctr = 0

    # -- ctors --------------------------------------------------------
    @classmethod
    def with_properties_4(cls, false_positive_rate: float, expected_elements: int,
                          seed: int = DEFAULT_SEED) -> "CuckooFilter":
        return cls._with_properties_n(4, 0.95, false_positive_rate, expected_elements, seed)

    @classmethod
    def with_properties_8(cls, false_positive_rate: float, expected_elements: int,
                          seed: int = DEFAULT_SEED) -> "CuckooFilter":
        return cls._with_properties_n(8, 0.98, false_positive_rate, expected_elements, seed)

    @classmethod
    def _with_properties_n(cls, bucketsize, load_factor, fpr, expected, seed):
        if expected < 1:
            raise ValueError(f"expected_elements ({expected}) must be at least 1")
        if not (0.0 < fpr < 1.0):
            raise ValueError(
                f"false_positive_rate ({fpr}) must be greater than 0 and smaller than 1"
            )
        l_fp = int(np.ceil(np.log2(2.0 * bucketsize / fpr)))
        costs = l_fp / load_factor
        # next_power_of_two(ceil(costs * n / l)) — cuckoofilter.rs:329-333
        k = int(np.ceil(costs * expected / l_fp))
        n_buckets = max(2, 1 << (k - 1).bit_length())
        return cls(bucketsize, n_buckets, l_fp, seed)

    def params(self) -> dict:
        return {
            "bucketsize": self.bucketsize,
            "n_buckets": self.n_buckets,
            "l_fingerprint": self.l_fingerprint,
            "seed": self.seed,
        }

    def is_empty(self) -> bool:
        return self.n_elements == 0

    def __len__(self) -> int:
        return self.n_elements  # exact, unlike Bloom (cuckoofilter.rs:569-576)

    # -- hashing ------------------------------------------------------
    def _fingerprints(self, values: np.ndarray) -> np.ndarray:
        h = hash_i64(np.asarray(values, dtype=np.int64), self.seed)  # stream 0
        x_mod = (
            np.uint64(0xFFFFFFFFFFFFFFFF)
            if self.l_fingerprint == 64
            else np.uint64((1 << self.l_fingerprint) - 1)
        )
        with np.errstate(over="ignore"):
            return np.uint64(1) + (h % x_mod)

    def _index_hash(self, vals: np.ndarray) -> np.ndarray:
        # second hash stream: mix with a distinct IV (reference writes
        # IV=1 before hashing, :385-389)
        with np.errstate(over="ignore"):
            h = splitmix64(np.asarray(vals, dtype=np.uint64) ^ np.uint64(self.seed) ^ np.uint64(0xA5A5A5A5A5A5A5A5))
        return h & np.uint64(self.n_buckets - 1)

    def _i1(self, values: np.ndarray) -> np.ndarray:
        h = hash_i64(np.asarray(values, dtype=np.int64), self.seed + 1)  # stream 1
        return h & np.uint64(self.n_buckets - 1)

    def _rand(self) -> int:
        v = int(splitmix64(np.uint64(self.seed) ^ np.uint64(0xC0FFEE) ^ np.uint64(self._rng_ctr)))
        self._rng_ctr += 1
        return v

    # -- bucket ops ---------------------------------------------------
    def _write_to_bucket(self, i: int, f: int) -> bool:
        off = i * self.bucketsize
        bucket = self.table[off : off + self.bucketsize]
        free = np.flatnonzero(bucket == 0)
        if free.size:
            bucket[free[0]] = f
            return True
        return False

    def _insert_one(self, f: int, i1: int, i2: int) -> None:
        if self._write_to_bucket(i1, f) or self._write_to_bucket(i2, f):
            self.n_elements += 1
            return
        i = i1 if (self._rand() & 1) else i2
        log: list[tuple[int, int]] = []
        for _ in range(MAX_NUM_KICKS):
            e = self._rand() % self.bucketsize
            x = i * self.bucketsize + e
            tmp = int(self.table[x])
            log.append((x, tmp))
            self.table[x] = f
            f = tmp
            i = int(np.uint64(i) ^ self._index_hash(np.array([f], dtype=np.uint64))[0])
            if self._write_to_bucket(i, f):
                self.n_elements += 1
                return
        for pos, data in reversed(log):  # rollback (:474-478)
            self.table[pos] = data
        raise CuckooFilterFull("cuckoo filter is full")

    # -- public ops ---------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.int64)
        if values.size == 0:
            return
        fs = self._fingerprints(values)
        i1s = self._i1(values)
        i2s = i1s ^ self._index_hash(fs)
        for f, i1, i2 in zip(fs.tolist(), i1s.tolist(), i2s.tolist()):
            self._insert_one(f, i1, i2)

    def query(self, values: np.ndarray) -> np.ndarray:
        values = np.asarray(values, dtype=np.int64)
        if values.size == 0:
            return np.zeros(0, dtype=bool)
        fs = self._fingerprints(values)
        i1s = self._i1(values)
        i2s = i1s ^ self._index_hash(fs)
        bs = self.bucketsize
        tbl = self.table.reshape(self.n_buckets, bs)
        in1 = (tbl[i1s.astype(np.int64)] == fs[:, None]).any(axis=1)
        in2 = (tbl[i2s.astype(np.int64)] == fs[:, None]).any(axis=1)
        return in1 | in2

    def delete(self, values: np.ndarray) -> np.ndarray:
        """Remove one stored occurrence per value; returns per-value
        'was present' (cuckoofilter.rs:356-368)."""
        values = np.asarray(values, dtype=np.int64)
        out = np.zeros(values.size, dtype=bool)
        fs = self._fingerprints(values)
        i1s = self._i1(values)
        i2s = i1s ^ self._index_hash(fs)
        for k, (f, i1, i2) in enumerate(zip(fs.tolist(), i1s.tolist(), i2s.tolist())):
            for i in (i1, i2):
                off = i * self.bucketsize
                bucket = self.table[off : off + self.bucketsize]
                hit = np.flatnonzero(bucket == f)
                if hit.size:
                    bucket[hit[0]] = 0
                    self.n_elements -= 1
                    out[k] = True
                    break
        return out

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by re-inserting every stored fingerprint; on overflow
        the state is restored and CuckooFilterFull raised (:514-555)."""
        check_mergeable(self.kind, self.params(), other.params())
        snapshot = (self.table.copy(), self.n_elements, self._rng_ctr)
        occupied = np.flatnonzero(other.table)
        try:
            for x in occupied.tolist():
                f = int(other.table[x])
                i1 = x // other.bucketsize
                i2 = int(np.uint64(i1) ^ self._index_hash(np.array([f], dtype=np.uint64))[0])
                self._insert_one(f, i1, i2)
        except CuckooFilterFull:
            self.table, self.n_elements, self._rng_ctr = snapshot
            raise
        return self

    # -- serde --------------------------------------------------------
    def to_bytes(self) -> bytes:
        payload = (
            np.int64(self.n_elements).tobytes()
            + np.int64(self._rng_ctr).tobytes()
            + self.table.tobytes()
        )
        return pack(self.kind, self.params(), payload)

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        _, params, payload = unpack(data, cls.kind)
        n_elements = int(np.frombuffer(payload, dtype=np.int64, count=1)[0])
        rng_ctr = int(np.frombuffer(payload, dtype=np.int64, count=1, offset=8)[0])
        table = np.frombuffer(payload, dtype=np.uint64, offset=16).copy()
        return cls(
            params["bucketsize"],
            params["n_buckets"],
            params["l_fingerprint"],
            params["seed"],
            _state={"table": table, "n_elements": n_elements, "rng_ctr": rng_ctr},
        )
