"""Frequent Directions — a mergeable matrix / covariance sketch.

Public algorithm: Liberty, "Simple and Deterministic Matrix Sketching"
(KDD 2013); mergeability and the error accounting used for the
certificate: Ghashami, Liberty, Phillips, Woodruff, "Frequent
Directions: Simple and Deterministic Matrix Sketching" (SICOMP 2016).
Not part of the pdatastructs.rs reference — added for the
embedding-pipeline requirement (streaming covariance / principal
subspace of an ``array<float>`` column at corpus scale).

The sketch maintains ``B`` (``l`` rows × ``dim``) such that

    0  ⪯  AᵀA − BᵀB  ⪯  delta_total · I      (PSD ordering)

where ``delta_total`` is the exact running sum of shrinkage values the
sketch has applied (tracked in the state, not a worst-case formula),
and the standard accounting bounds it by

    delta_total  ≤  (‖A‖_F² − ‖B‖_F²) / l  ≤  ‖A‖_F² / l.

Both invariants are asserted by tests and the driver certificate —
merge order may change ``B`` (SVD is order-sensitive) but never the
guarantee, which is what "mergeable" means for this sketch.

Fits the sketchlib aggregator contract: ``update`` consumes the
FLATTENED float64 values of an ``array<float>`` column (the shape
``agg._grouped_column`` hands every numeric kernel) and reshapes by
``dim``; ``merge``/``to_bytes``/``from_bytes`` round-trip through the
shared versioned codec, so ``sketch_aggregate``, the salted merge
tree, rollup and streaming all work unchanged.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import check_mergeable, pack, unpack

__all__ = ["FrequentDirections"]


class FrequentDirections:
    """``FrequentDirections(l, dim)`` — sketch of ``l`` directions over
    row vectors of width ``dim``. ``l`` trades accuracy for state size
    (state is O(l·dim) floats); covariance error ≤ ‖A‖_F²/l."""

    kind = "fd"
    input = "float"
    merge_contract = "bounded"

    def __init__(self, l: int, dim: int):
        if l < 2:
            raise ValueError(f"l must be >= 2: {l}")
        if dim < 1:
            raise ValueError(f"dim must be >= 1: {dim}")
        # l is clamped to dim: each _shrink removes only ~dim·delta of
        # Frobenius mass (rank ≤ dim), so l > dim would break the
        # delta_total ≤ (‖A‖_F²−‖B‖_F²)/l accounting — and a sketch
        # wider than dim is pointless (the exact Gram fits in dim rows).
        self.l = min(int(l), max(2, int(dim)))
        self.dim = int(dim)
        # buffer holds up to 2l rows; the top l stay after each shrink
        self._buf = np.zeros((2 * self.l, self.dim), dtype=np.float64)
        self._rows = 0  # occupied buffer rows
        self.n = 0  # vectors consumed
        self.fro2 = 0.0  # exact ||A||_F^2
        self.delta_total = 0.0  # exact sum of shrinkage values

    # ------------------------------------------------------------ update

    def _shrink(self) -> None:
        occ = self._buf[: self._rows]
        # economy SVD: occ = U diag(s) Vt
        try:
            _, s, vt = np.linalg.svd(occ, full_matrices=False)
        except np.linalg.LinAlgError:  # pragma: no cover - perturb retry
            _, s, vt = np.linalg.svd(
                occ + 1e-12 * np.random.default_rng(0).standard_normal(occ.shape),
                full_matrices=False,
            )
        k = min(self.l, s.size)
        delta = float(s[k - 1] ** 2) if s.size >= k else 0.0
        s2 = np.maximum(s[:k] ** 2 - delta, 0.0)
        self._buf[:] = 0.0
        self._buf[:k] = np.sqrt(s2)[:, None] * vt[:k]
        self._rows = k
        self.delta_total += delta

    def update(self, values: np.ndarray) -> None:
        """Consume flattened float64 row vectors (len % dim == 0)."""
        flat = np.asarray(values, dtype=np.float64)
        if flat.size % self.dim:
            raise ValueError(
                f"flattened length {flat.size} not a multiple of dim {self.dim}"
            )
        rows = flat.reshape(-1, self.dim)
        self.n += rows.shape[0]
        self.fro2 += float(np.einsum("ij,ij->", rows, rows))
        i = 0
        while i < rows.shape[0]:
            room = self._buf.shape[0] - self._rows
            take = min(room, rows.shape[0] - i)
            self._buf[self._rows : self._rows + take] = rows[i : i + take]
            self._rows += take
            i += take
            if self._rows >= self._buf.shape[0]:
                self._shrink()

    # ------------------------------------------------------------- merge

    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        """IN-PLACE merge (the sketchlib kernel contract — the salted
        merge tree mutates the accumulator and discards the return
        value). Returns self for chaining."""
        check_mergeable(
            self.kind,
            {"l": self.l, "dim": self.dim},
            {"l": other.l, "dim": other.dim},
        )
        # finalize self so the stack fits the 2l buffer even when both
        # sides carry un-shrunk update buffers
        if self._rows > self.l:
            self._shrink()
        stacked = np.vstack([self._buf[: self._rows], other._buf[: other._rows]])
        self.n += other.n
        self.fro2 += other.fro2
        self.delta_total += other.delta_total
        self._buf[:] = 0.0
        self._rows = 0
        cap = self._buf.shape[0]
        i = 0
        while i < stacked.shape[0]:
            take = min(cap - self._rows, stacked.shape[0] - i)
            self._buf[self._rows : self._rows + take] = stacked[i : i + take]
            self._rows += take
            i += take
            if self._rows >= cap:
                self._shrink()
        if self._rows > self.l:
            self._shrink()
        return self

    # ------------------------------------------------------------ query

    @property
    def sketch_matrix(self) -> np.ndarray:
        """The current (≤ l) × dim sketch rows (a copy)."""
        return self._buf[: self._rows].copy()

    def cov_sketch(self) -> np.ndarray:
        """BᵀB — the sketched (uncentered) covariance/Gram matrix."""
        b = self._buf[: self._rows]
        return b.T @ b

    def principal_directions(self, k: int) -> np.ndarray:
        """Top-k right singular vectors of the sketch (k × dim)."""
        _, _, vt = np.linalg.svd(self._buf[: self._rows], full_matrices=False)
        return vt[:k]

    def error_bound(self) -> float:
        """Certified spectral-norm bound on AᵀA − BᵀB: the exact
        shrinkage total (≤ ‖A‖_F²/l by the standard accounting)."""
        return self.delta_total

    def is_empty(self) -> bool:
        return self.n == 0

    # ------------------------------------------------------------ codec

    def params_header(self) -> dict:
        return {"kind": self.kind, "l": self.l, "dim": self.dim}

    def to_bytes(self) -> bytes:
        # finalize to <= l rows so the payload is canonical-size
        if self._rows > self.l:
            self._shrink()
        b = self._buf[: self._rows]
        head = struct.pack("<qqdd", self.n, b.shape[0], self.fro2, self.delta_total)
        return pack(self.kind, {"l": self.l, "dim": self.dim}, head + b.tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "FrequentDirections":
        _, params, payload = unpack(blob, cls.kind)
        out = cls(params["l"], params["dim"])
        n, rows, fro2, delta = struct.unpack_from("<qqdd", payload, 0)
        mat = np.frombuffer(payload, dtype=np.float64, offset=32).reshape(
            int(rows), out.dim
        )
        if int(rows) <= out._buf.shape[0]:
            out._buf[: int(rows)] = mat
            out._rows = int(rows)
            out.delta_total = float(delta)
        else:
            # legacy blob written before the l ≤ dim clamp (its buffer
            # held up to 2·l_old rows): fold its rows through update()
            # — FD-merge-correct, concat + shrink — and ADD any
            # shrinkage the fold incurs to the stored delta total so
            # the accounting bound keeps holding
            out.update(mat.ravel())
            out.delta_total += float(delta)
        out.n = int(n)
        out.fro2 = float(fro2)
        return out
