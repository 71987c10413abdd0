"""Quotient filter: cache-friendly AMQ, mergeable, exact len.

Mirrors /root/reference/src/filters/quotientfilter.rs (Bender et al.,
"Don't Thrash: How to Cache Your Hash on Flash"):

- fingerprint split: top ``q`` bits of the (q+r)-bit-truncated 64-bit
  hash are the quotient (slot address), low ``r`` bits the remainder
  stored in the slot (quotientfilter.rs:343-356)
- three metadata bits per slot (is_occupied / is_continuation /
  is_shifted); runs are sorted by remainder, clusters are maximal
  chains of used slots; scan walks back to the cluster start then
  forward counting runs (:374-448)
- insert shifts subsequent slots via a swap chain (:451-515); duplicate
  fingerprints are not stored twice (insert returns "was new"), so
  ``len`` is the exact number of stored fingerprints
- union decodes (quotient, remainder) pairs by walking clusters with a
  FIFO of occupied quotients and re-inserts them (:539-606); raises
  ``QuotientFilterFull`` when out of slots

Like the cuckoo filter, the probe chains are inherently sequential
(SURVEY.md U6), so updates loop per element in Python — a parity
structure, not the 100 TB hot path, and its fallible union keeps it out
of the Spark aggregation topology (SURVEY.md §2.3 M5).
"""

from __future__ import annotations

from collections import deque

import numpy as np

from .codec import pack, unpack
from .hashing import hash_i64

DEFAULT_SEED = 0x5EEDC0DE


class QuotientFilterFull(RuntimeError):
    pass


class QuotientFilter:
    kind = "quotient"

    def __init__(self, bits_quotient: int, bits_remainder: int, seed: int = DEFAULT_SEED,
                 _state: dict | None = None):
        if not (0 < bits_remainder <= 64):
            raise ValueError(
                f"bits_remainder ({bits_remainder}) must be greater than 0 and smaller or equal than 64"
            )
        if bits_quotient <= 0:
            raise ValueError(f"bits_quotient ({bits_quotient}) must be greater than 0")
        if bits_quotient + bits_remainder > 64:
            raise ValueError(
                f"bits_remainder ({bits_remainder}) + bits_quotient ({bits_quotient}) "
                "must be smaller or equal than 64"
            )
        self.q = int(bits_quotient)
        self.r = int(bits_remainder)
        self.seed = int(seed)
        self.size = 1 << self.q
        if _state is not None:
            self.occupied = _state["occupied"]
            self.continuation = _state["continuation"]
            self.shifted = _state["shifted"]
            self.remainders = _state["remainders"]
            self.n_elements = _state["n_elements"]
        else:
            self.occupied = np.zeros(self.size, dtype=bool)
            self.continuation = np.zeros(self.size, dtype=bool)
            self.shifted = np.zeros(self.size, dtype=bool)
            self.remainders = np.zeros(self.size, dtype=np.uint64)
            self.n_elements = 0

    def params(self) -> dict:
        return {"q": self.q, "r": self.r, "seed": self.seed}

    def is_empty(self) -> bool:
        return self.n_elements == 0

    def __len__(self) -> int:
        return self.n_elements

    def clear(self) -> None:
        self.occupied[:] = False
        self.continuation[:] = False
        self.shifted[:] = False
        self.remainders[:] = 0
        self.n_elements = 0

    # -- fingerprint math ----------------------------------------------
    def _quotient_remainder(self, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = hash_i64(np.asarray(values, dtype=np.int64), self.seed)
        bits_trash = 64 - self.r - self.q
        if bits_trash:
            h = h & np.uint64((1 << (self.q + self.r)) - 1)
        quotient = (h >> np.uint64(self.r)).astype(np.int64)
        remainder = h & np.uint64((1 << self.r) - 1)
        return quotient, remainder

    def _used(self, i: int) -> bool:
        return bool(self.occupied[i] or self.shifted[i])

    def _incr(self, i: int) -> int:
        return (i + 1) % self.size

    def _decr(self, i: int) -> int:
        return (i - 1) % self.size

    # -- scan (quotientfilter.rs:374-448) -------------------------------
    def _scan(self, quotient: int, remainder: int, on_insert: bool):
        """Returns (present, position, start_of_run|None)."""
        run_exists = bool(self.occupied[quotient])
        if not run_exists and not on_insert:
            return False, quotient, None
        b = quotient
        while self.shifted[b]:
            b = self._decr(b)
        s = b
        while b != quotient:
            while True:  # skip current run
                s = self._incr(s)
                if not self.continuation[s]:
                    break
            while True:  # next occupied bucket
                b = self._incr(b)
                if self.occupied[b] or (b == quotient and on_insert):
                    break
        if run_exists:
            start_of_run = s
            while True:
                rr = int(self.remainders[s])
                if rr == remainder:
                    return True, s, start_of_run
                if rr > remainder:  # remainders sorted within run
                    break
                s = self._incr(s)
                if not self.continuation[s]:
                    break
            return False, s, start_of_run
        return False, s, None

    # -- insert (quotientfilter.rs:451-515) ------------------------------
    def _insert_internal(self, quotient: int, remainder: int) -> bool:
        present, position, start_of_run = self._scan(quotient, remainder, True)
        if present:
            return False
        if self.n_elements == self.size:
            raise QuotientFilterFull("quotient filter is full")

        cur_cont = bool(self.continuation[position]) or (position == start_of_run)
        cur_rem = int(self.remainders[position])
        cur_used = self._used(position)

        self.remainders[position] = remainder
        if start_of_run is not None and position != start_of_run:
            self.continuation[position] = True
        if position != quotient:
            self.shifted[position] = True

        start = position
        while cur_used:
            position = self._incr(position)
            nxt_cont = bool(self.continuation[position])
            nxt_rem = int(self.remainders[position])
            nxt_used = self._used(position)
            self.shifted[position] = True
            self.continuation[position] = cur_cont
            self.remainders[position] = cur_rem
            cur_cont, cur_rem, cur_used = nxt_cont, nxt_rem, nxt_used
            if position == start:
                raise RuntimeError("infinite loop detected")
        self.occupied[quotient] = True
        self.n_elements += 1
        return True

    # -- public ops ------------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        qs, rs = self._quotient_remainder(values)
        for quo, rem in zip(qs.tolist(), rs.tolist()):
            self._insert_internal(quo, int(rem))

    def query(self, values: np.ndarray) -> np.ndarray:
        values = np.asarray(values, dtype=np.int64)
        qs, rs = self._quotient_remainder(values)
        out = np.zeros(values.size, dtype=bool)
        for k, (quo, rem) in enumerate(zip(qs.tolist(), rs.tolist())):
            out[k] = self._scan(quo, int(rem), False)[0]
        return out

    def _iter_pairs(self):
        """Decode every stored (quotient, remainder): walk clusters with
        a FIFO of occupied quotients (quotientfilter.rs:539-606)."""
        start = None
        for i in range(self.size):
            if not self._used(i):
                start = i
                break
        if start is None and self.n_elements:
            # full filter: any unshifted used slot starts a cluster
            start = int(np.flatnonzero(~self.shifted)[0])
        queue: deque[int] = deque()
        run_q = None
        i = start if start is not None else 0
        for _ in range(self.size):
            if self.occupied[i]:
                queue.append(i)
            if not self._used(i):
                queue.clear()
                run_q = None
            else:
                if not self.continuation[i]:
                    run_q = queue.popleft()
                yield run_q, int(self.remainders[i])
            i = self._incr(i)

    def merge(self, other: "QuotientFilter") -> "QuotientFilter":
        """Union by re-inserting other's decoded fingerprints. The
        reference requires equal (q, r, hasher) (:541-551)."""
        from .codec import check_mergeable

        check_mergeable(self.kind, self.params(), other.params())
        snapshot = (
            self.occupied.copy(),
            self.continuation.copy(),
            self.shifted.copy(),
            self.remainders.copy(),
            self.n_elements,
        )
        try:
            for quo, rem in other._iter_pairs():
                self._insert_internal(quo, rem)
        except QuotientFilterFull:
            (self.occupied, self.continuation, self.shifted,
             self.remainders, self.n_elements) = snapshot
            raise
        return self

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        payload = (
            np.int64(self.n_elements).tobytes()
            + np.packbits(self.occupied).tobytes()
            + np.packbits(self.continuation).tobytes()
            + np.packbits(self.shifted).tobytes()
            + self.remainders.tobytes()
        )
        return pack(self.kind, self.params(), payload)

    @classmethod
    def from_bytes(cls, data: bytes) -> "QuotientFilter":
        _, params, payload = unpack(data, cls.kind)
        size = 1 << params["q"]
        nbytes = (size + 7) // 8
        n_elements = int(np.frombuffer(payload, dtype=np.int64, count=1)[0])
        off = 8
        bitsets = []
        for _ in range(3):
            bits = np.unpackbits(
                np.frombuffer(payload, dtype=np.uint8, count=nbytes, offset=off)
            )[:size].astype(bool)
            bitsets.append(bits)
            off += nbytes
        remainders = np.frombuffer(payload, dtype=np.uint64, count=size, offset=off).copy()
        return cls(
            params["q"], params["r"], params["seed"],
            _state={
                "occupied": bitsets[0],
                "continuation": bitsets[1],
                "shifted": bitsets[2],
                "remainders": remainders,
                "n_elements": n_elements,
            },
        )
