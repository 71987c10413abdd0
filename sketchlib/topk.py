"""Top-k / heavy-hitter kernels + the exact-rescore Spark top-k.

Reference semantics (SURVEY.md §2, A8/A9):

- ``LossyCounter`` — Manku–Motwani lossy counting
  (/root/reference/src/topk/lossycounter.rs:157-273): stream split into
  windows of ``width = ceil(1/epsilon)``; new items enter with
  ``delta = current_window - 1``; at each window boundary entries with
  ``f + delta <= window`` are pruned. ``query(theta)`` returns items
  with ``f >= (theta - epsilon) * n`` — guaranteed superset of the true
  theta-heavy hitters, f undercounts by at most epsilon*n.

- ``TopK`` — CMS-backed top-k
  (/root/reference/src/topk/cmsheap.rs:117-219): a CountMinSketch for
  counts plus a bounded candidate set; query re-scores candidates
  against the CMS and returns the k largest by (count, item).

- ``SpaceSaving`` — counter-based heavy hitters (Metwally et al.
  ICDT 2005) in the batch-mergeable Misra–Gries form of Agarwal et al.
  PODS 2012. Not in the reference (its ``src/topk/`` stops at the two
  above); included as the third classical top-k family so users can
  trade LossyCounter's window semantics for an m-counter memory bound.

The reference versions are single-stream and have NO merge; the
distributed variants here follow the standard constructions:

- LossyCounter merge: f adds (missing item in one side contributes its
  side's max undercount ``ceil(n_i / width)`` to delta), n adds, then a
  prune at the merged window — the (theta - epsilon) superset guarantee
  is preserved (Manku–Motwani §5 distributed extension).
- TopK merge: CMS merge (exact elementwise sum) + candidate-set union,
  re-scored against the merged CMS, truncated to the candidate budget.

Both merges are commutative; TopK's is associative in value (the kept
candidate set is a deterministic function of the union). State blobs go
through the same versioned codec as every other kernel.

``topk_exact_rescore`` is the *exact* distributed top-k used by the
driver queries: per-partition candidate generation (vectorized
value_counts) with a provable upper bound on any non-candidate's global
count, falling back to a plain exact aggregation when the bound cannot
certify the result. At 100 TB the fast path touches the raw data once
and shuffles only candidate rows.
"""

from __future__ import annotations

import numpy as np

from .codec import check_mergeable, pack, unpack
from .cms import CountMinSketch

DEFAULT_SEED = 0x5EEDC0DE


class LossyCounter:
    """Lossy counting over int64 items (strings pre-hashed upstream)."""

    kind = "lossy"
    input = "hashed"
    merge_contract = "bounded"

    def __init__(self, epsilon: float = 0.001, _state: dict | None = None):
        if not (0.0 < epsilon < 1.0):
            raise ValueError(f"epsilon ({epsilon}) must be in (0, 1)")
        self.epsilon = float(epsilon)
        self.width = int(np.ceil(1.0 / epsilon))
        if _state is not None:
            self.items = _state["items"]
            self.f = _state["f"]
            self.delta = _state["delta"]
            self.n = _state["n"]
        else:
            self.items = np.empty(0, dtype=np.int64)
            self.f = np.empty(0, dtype=np.uint64)
            self.delta = np.empty(0, dtype=np.uint64)
            self.n = 0

    def params(self) -> dict:
        return {"epsilon": self.epsilon}

    def is_empty(self) -> bool:
        return self.n == 0

    def _window(self, n: int) -> int:
        # current window b = ceil(n / width); window 1 while n in [1, width]
        return -(-n // self.width) if n else 0

    def _absorb(self, items: np.ndarray, counts: np.ndarray, deltas: np.ndarray) -> None:
        """Merge (items, f=counts, delta=deltas) rows into the table."""
        all_items = np.concatenate([self.items, items])
        order = np.argsort(all_items, kind="stable")
        all_items = all_items[order]
        all_f = np.concatenate([self.f, counts.astype(np.uint64)])[order]
        all_d = np.concatenate([self.delta, deltas.astype(np.uint64)])[order]
        uniq, start = np.unique(all_items, return_index=True)
        f = np.add.reduceat(all_f, start)
        # an existing entry keeps its delta (reference sets delta only at
        # insert, lossycounter.rs:238-244): existing rows precede incoming
        # ones in the stable sort, so the group's first delta is theirs
        d = all_d[start]
        self.items, self.f, self.delta = uniq, f, d

    def _prune(self) -> None:
        b = self._window(self.n)
        keep = (self.f + self.delta) > np.uint64(b)
        self.items = self.items[keep]
        self.f = self.f[keep]
        self.delta = self.delta[keep]

    def update(self, values: np.ndarray) -> None:
        """Window-chunked vectorized ingest: within one window the
        reference's per-element loop and a batched unique+add produce
        the same table (delta is fixed for the whole window; pruning
        only happens at the boundary)."""
        values = np.ascontiguousarray(values, dtype=np.int64)
        pos = 0
        total = values.size
        while pos < total:
            in_window = self.n % self.width
            room = self.width - in_window  # elements until the boundary
            take = min(total - pos, room)
            chunk = values[pos : pos + take]
            b = self._window(self.n + 1)  # window every element of chunk lands in
            from .hashing import unique_counts

            uniq, counts = unique_counts(chunk)
            self._absorb(uniq, counts, np.full(uniq.size, b - 1, dtype=np.uint64))
            self.n += int(take)
            pos += take
            if self.n % self.width == 0:
                self._prune()

    def query(self, theta: float) -> tuple[np.ndarray, np.ndarray]:
        """Items (and undercounting f) with f >= (theta - epsilon) * n."""
        bound = max(int(np.ceil((theta - self.epsilon) * self.n)), 0)
        mask = self.f >= np.uint64(bound)
        order = np.argsort(self.items[mask])
        return self.items[mask][order], self.f[mask][order]

    def merge(self, other: "LossyCounter") -> "LossyCounter":
        check_mergeable(self.kind, self.params(), other.params())
        # an empty side contributes nothing — returning unchanged keeps
        # the merge a true identity (the general path below would still
        # run a mid-window prune at b = ceil(n/width), which is more
        # aggressive than the streaming algorithm ever is and can drop
        # a boundary-exact heavy hitter at tiny n; empty partials are
        # routine in Spark, so this identity matters)
        if other.n == 0:
            return self
        if self.n == 0:
            self.items = other.items.copy()
            self.f = other.f.copy()
            self.delta = other.delta.copy()
            self.n = other.n
            return self
        # an item missing from one side may have occurred up to that
        # side's current window count there → add it to delta
        b_self = self._window(self.n)
        b_other = other._window(other.n)
        # items only in other: enter table with +b_self slack
        only_other = ~np.isin(other.items, self.items, assume_unique=True)
        add_items = other.items[only_other]
        add_f = other.f[only_other]
        add_d = other.delta[only_other] + np.uint64(b_self)
        # items in both: f adds, delta adds (each side's own slack)
        both_mask_o = ~only_other
        both_items = other.items[both_mask_o]
        idx = np.searchsorted(self.items, both_items)
        self.f = self.f.copy()
        self.delta = self.delta.copy()
        np.add.at(self.f, idx, other.f[both_mask_o])
        np.add.at(self.delta, idx, other.delta[both_mask_o])
        # items only in self keep f, delta += b_other
        only_self = np.ones(self.items.size, dtype=bool)
        only_self[idx] = False
        self.delta[only_self] += np.uint64(b_other)
        self._absorb(add_items, add_f, add_d)
        self.n += other.n
        self._prune()
        return self

    def to_bytes(self) -> bytes:
        payload = (
            np.int64(self.n).tobytes()
            + np.int64(self.items.size).tobytes()
            + self.items.tobytes()
            + self.f.tobytes()
            + self.delta.tobytes()
        )
        return pack(self.kind, self.params(), payload)

    @classmethod
    def from_bytes(cls, data: bytes) -> "LossyCounter":
        _, params, payload = unpack(data, cls.kind)
        n = int(np.frombuffer(payload, dtype=np.int64, count=1)[0])
        sz = int(np.frombuffer(payload, dtype=np.int64, count=1, offset=8)[0])
        off = 16
        items = np.frombuffer(payload, dtype=np.int64, count=sz, offset=off).copy()
        off += 8 * sz
        f = np.frombuffer(payload, dtype=np.uint64, count=sz, offset=off).copy()
        off += 8 * sz
        delta = np.frombuffer(payload, dtype=np.uint64, count=sz, offset=off).copy()
        return cls(params["epsilon"], _state={"items": items, "f": f, "delta": delta, "n": n})


class SpaceSaving:
    """SpaceSaving / Misra–Gries heavy hitters over int64 items, in the
    batch-mergeable form of Agarwal et al., "Mergeable Summaries" (PODS
    2012, §3): ``m`` monitored counters; absorbing a batch adds exact
    (item, count) rows, then one compress subtracts the (m+1)-th largest
    count ``d`` from every entry and prunes the non-positive ones,
    accumulating ``d`` into a single scalar error term. This is the
    counter-based complement to :class:`LossyCounter` (window-based) and
    :class:`TopK` (CMS-based) — the third classical top-k family the
    reference's ``src/topk/`` does not cover (extra beyond SURVEY §2;
    guarantees follow Metwally et al., "Efficient Computation of
    Frequent and Top-k Elements in Data Streams", ICDT 2005).

    Invariants (checked by tests/test_spacesaving.py):

    - undercount:  ``f(x) <= true(x) <= f(x) + err`` for monitored x,
      and ``true(x) <= err`` for unmonitored x;
    - bound:       ``err <= n / (m + 1)`` (each compress removes at
      least ``d * (m+1)`` stored count, and stored count <= n);
    - superset:    ``query(phi)`` returns every true phi-heavy hitter
      PROVIDED ``phi > 1/(m+1)`` (equivalently whenever
      ``err < ceil(phi*n)``) — with m counters only items of frequency
      above n/(m+1) are detectable at all (Misra–Gries lower bound), so
      size m to at least ``ceil(1/phi)``;
    - merge:       absorb + err add + one compress — commutative in
      bytes (absorb sorts by item), associative in guarantee (PODS'12
      Thm 1 with the same err ledger), so partition/merge-tree order
      never changes the answer's validity. Like ``topk``/``lossy`` the
      state is estimate-equivalent (not byte-equal) across groupings.
    """

    kind = "spacesaving"
    input = "hashed"
    merge_contract = "bounded"

    def __init__(self, m: int = 256, _state: dict | None = None):
        if int(m) < 1:
            raise ValueError(f"m ({m}) must be >= 1")
        self.m = int(m)
        if _state is not None:
            self.items = _state["items"]
            self.f = _state["f"]
            self.err = int(_state["err"])
            self.n = int(_state["n"])
        else:
            self.items = np.empty(0, dtype=np.int64)
            self.f = np.empty(0, dtype=np.uint64)
            self.err = 0
            self.n = 0

    def params(self) -> dict:
        return {"m": self.m}

    def is_empty(self) -> bool:
        return self.n == 0

    def _absorb(self, items: np.ndarray, counts: np.ndarray) -> None:
        all_items = np.concatenate([self.items, np.asarray(items, dtype=np.int64)])
        all_f = np.concatenate([self.f, np.asarray(counts).astype(np.uint64)])
        order = np.argsort(all_items, kind="stable")
        uniq, start = np.unique(all_items[order], return_index=True)
        self.items = uniq
        self.f = np.add.reduceat(all_f[order], start) if uniq.size else all_f[:0]

    def _compress(self) -> None:
        if self.items.size <= self.m:
            return
        # d = (m+1)-th largest stored count; every survivor has f > d,
        # so at most m survive even with ties at d
        d = np.partition(self.f, self.f.size - (self.m + 1))[self.f.size - (self.m + 1)]
        keep = self.f > d
        self.items = self.items[keep]
        self.f = self.f[keep] - d
        self.err += int(d)

    def update(self, values: np.ndarray) -> None:
        values = np.ascontiguousarray(values, dtype=np.int64)
        if values.size == 0:
            return
        from .hashing import unique_counts

        uniq, counts = unique_counts(values)
        self._absorb(uniq, counts)
        self.n += int(values.size)
        self._compress()

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        """Exact fast path for pre-deduplicated (item, count) batches:
        absorbing multiplicities is byte-identical to one raw batch."""
        counts = np.asarray(counts)
        if counts.size == 0:
            return
        self._absorb(np.asarray(uniq), counts)
        self.n += int(counts.astype(np.uint64).sum())
        self._compress()

    def query(self, phi: float) -> tuple[np.ndarray, np.ndarray]:
        """Items (with undercounting f) that may be phi-heavy:
        ``f + err >= ceil(phi * n)`` — a superset of the true phi-heavy
        hitters whenever ``err < ceil(phi * n)`` (guaranteed by sizing
        ``m >= ceil(1/phi)``), each f undercounting by at most
        ``err``."""
        bound = max(int(np.ceil(phi * self.n)) - self.err, 0)
        mask = self.f >= np.uint64(bound)
        order = np.argsort(self.items[mask])
        return self.items[mask][order], self.f[mask][order]

    def top(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """The k largest stored (item, f) pairs by (f desc, item asc)."""
        order = np.lexsort((self.items, ~self.f))
        sel = order[: int(k)]
        return self.items[sel], self.f[sel]

    def merge(self, other: "SpaceSaving") -> "SpaceSaving":
        check_mergeable(self.kind, self.params(), other.params())
        self._absorb(other.items, other.f)
        self.err += other.err
        self.n += other.n
        self._compress()
        return self

    def to_bytes(self) -> bytes:
        payload = (
            np.int64(self.n).tobytes()
            + np.int64(self.err).tobytes()
            + np.int64(self.items.size).tobytes()
            + self.items.tobytes()
            + self.f.tobytes()
        )
        return pack(self.kind, self.params(), payload)

    @classmethod
    def from_bytes(cls, data: bytes) -> "SpaceSaving":
        _, params, payload = unpack(data, cls.kind)
        n, err, sz = (int(v) for v in np.frombuffer(payload, dtype=np.int64, count=3))
        off = 24
        items = np.frombuffer(payload, dtype=np.int64, count=sz, offset=off).copy()
        off += 8 * sz
        f = np.frombuffer(payload, dtype=np.uint64, count=sz, offset=off).copy()
        return cls(params["m"], _state={"items": items, "f": f, "err": err, "n": n})


class TopK:
    """CMS-backed top-k over int64 items (cmsheap.rs:117-219 semantics,
    distributed: bounded candidate set re-scored against the CMS)."""

    kind = "topk"
    input = "hashed"
    merge_contract = "bounded"

    def __init__(
        self,
        k: int = 10,
        w: int = 1024,
        d: int = 4,
        seed: int = DEFAULT_SEED,
        candidate_budget: int | None = None,
        _state: dict | None = None,
    ):
        if k <= 0:
            raise ValueError(f"k ({k}) must be > 0")
        self.k = int(k)
        self.budget = int(candidate_budget) if candidate_budget else max(8 * k, 64)
        if _state is not None:
            self.cms = _state["cms"]
            self.candidates = _state["candidates"]
        else:
            self.cms = CountMinSketch(w, d, seed)
            self.candidates = np.empty(0, dtype=np.int64)

    def params(self) -> dict:
        return {"k": self.k, "budget": self.budget, **{f"cms_{p}": v for p, v in self.cms.params().items()}}

    def is_empty(self) -> bool:
        return self.cms.is_empty()

    def _requalify(self, new_items: np.ndarray) -> None:
        cand = np.unique(np.concatenate([self.candidates, new_items]))
        if cand.size > self.budget:
            est = self.cms.query_points(cand)
            # keep top-budget by (est desc, item asc) — deterministic
            order = np.lexsort((cand, -est.astype(np.int64)))
            cand = np.sort(cand[order[: self.budget]])
        self.candidates = cand

    def update(self, values: np.ndarray) -> None:
        values = np.ascontiguousarray(values, dtype=np.int64)
        if values.size == 0:
            return
        self.cms.update(values)
        self._requalify(np.unique(values))

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        """Fast path when the caller already deduplicated the batch."""
        self.cms.update_unique(uniq, counts)
        self._requalify(uniq)

    def query(self) -> tuple[np.ndarray, np.ndarray]:
        """Top-k (items, est counts) by (count desc, item asc)."""
        if self.candidates.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
        est = self.cms.query_points(self.candidates)
        order = np.lexsort((self.candidates, -est.astype(np.int64)))[: self.k]
        return self.candidates[order], est[order]

    def merge(self, other: "TopK") -> "TopK":
        check_mergeable(self.kind, self.params(), other.params())
        self.cms.merge(other.cms)
        self._requalify(other.candidates)
        return self

    def to_bytes(self) -> bytes:
        cms_blob = self.cms.to_bytes()
        payload = (
            np.int64(len(cms_blob)).tobytes()
            + cms_blob
            + np.int64(self.candidates.size).tobytes()
            + self.candidates.tobytes()
        )
        return pack(self.kind, {"k": self.k, "budget": self.budget}, payload)

    @classmethod
    def from_bytes(cls, data: bytes) -> "TopK":
        _, params, payload = unpack(data, cls.kind)
        blen = int(np.frombuffer(payload, dtype=np.int64, count=1)[0])
        cms = CountMinSketch.from_bytes(payload[8 : 8 + blen])
        off = 8 + blen
        sz = int(np.frombuffer(payload, dtype=np.int64, count=1, offset=off)[0])
        cand = np.frombuffer(payload, dtype=np.int64, count=sz, offset=off + 8).copy()
        return cls(
            params["k"],
            candidate_budget=params["budget"],
            _state={"cms": cms, "candidates": cand},
        )


# ---------------------------------------------------------------------------
# exact distributed top-k (candidate generation + certified exact rescore)
# ---------------------------------------------------------------------------


def topk_exact_rescore(df, group_cols: list[str], col: str, k: int, candidates_per_part: int = 256):
    """EXACT top-k of ``col`` values per group, at scale.

    Fast path: one pass emits each input partition's top
    ``candidates_per_part`` items (vectorized value_counts) plus the
    partition's residual bound (the count of its first non-emitted
    item). A non-candidate's global count is <= sum of residual bounds,
    so if the k-th candidate's exact global count beats that bound the
    result is provably exact. The exact counts of candidates come from
    a broadcast-semi-filtered aggregation (second pass over the column).
    If the certificate fails (pathologically flat distribution), falls
    back to the plain exact groupBy — correctness never depends on the
    heuristic.

    Returns a DataFrame ``group_cols..., value, cnt`` with ties broken
    by (cnt desc, value asc), <= k rows per group.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    value_field = df.schema[col]
    cand_schema = StructType(
        [df.schema[c] for c in group_cols]
        + [
            StructField("value", value_field.dataType, True),
            StructField("cnt", LongType(), False),
            StructField("residual", LongType(), False),
        ]
    )
    narrow = df.select(*group_cols, F.col(col).alias("value"))

    def gen_candidates(it):
        for pdf in it:
            outs = []
            for gkey, sub in pdf.groupby(group_cols, dropna=False, sort=False):
                vc = sub["value"].value_counts()  # sorted desc
                top = vc.iloc[:candidates_per_part]
                residual = int(vc.iloc[candidates_per_part]) if len(vc) > candidates_per_part else 0
                out = pd.DataFrame({"value": top.index, "cnt": top.values})
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                for c, v in zip(group_cols, gkey):
                    out[c] = v
                out["residual"] = residual
                outs.append(out[[*group_cols, "value", "cnt", "residual"]])
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cands = narrow.mapInPandas(gen_candidates, cand_schema).cache()
    # exact global counts of candidate values (semi-filter then agg)
    cand_values = cands.select(*group_cols, "value").distinct()
    exact = (
        narrow.join(F.broadcast(cand_values), on=[*group_cols, "value"], how="leftsemi")
        .groupBy(*group_cols, "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(*group_cols).orderBy(F.desc("cnt"), F.asc("value"))
    topk = exact.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    # certificate: kth count per group must exceed the sum of residuals
    bounds = cands.groupBy(*group_cols).agg(F.sum(F.col("residual")).alias("bound"))
    kth = topk.groupBy(*group_cols).agg(F.min("cnt").alias("kth"), F.count(F.lit(1)).alias("nk"))
    # two failure modes: (a) enough candidates but the kth's exact count
    # doesn't beat the residual bound; (b) FEWER than k candidates while
    # non-candidate values could still exist (bound > 0) — without (b) a
    # group with k > distinct candidates would silently truncate
    bad = (
        kth.join(bounds, group_cols)
        .filter(
            ((F.col("nk") >= k) & (F.col("kth") <= F.col("bound")))
            | ((F.col("nk") < k) & (F.col("bound") > 0))
        )
        .limit(1)
        .count()
    )
    cands.unpersist()
    if bad:
        # exact fallback: single full aggregation (what the oracle does)
        exact_all = narrow.groupBy(*group_cols, "value").agg(F.count(F.lit(1)).alias("cnt"))
        topk = exact_all.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return topk.drop("__rn")


# ---------------------------------------------------------------------------
# hash reverse map — original strings for hashed sketch outputs
# ---------------------------------------------------------------------------
# Sketch inputs over strings are pre-hashed JVM-side (agg._resolve_specs:
# F.xxhash64), so lossy/topk sketch outputs emit hash values. The
# reference's CMSHeap emits the items themselves (cmsheap.rs:213-219);
# these helpers restore that surface without collecting anything: build a
# distinct-value dimension in the same scan that feeds the sketch, then
# broadcast-join the tiny sketch output against it.


def hash_item_dimension(df, col: str):
    """(value, item) reverse-map dimension: distinct values of ``col``
    with their ``xxhash64`` — the exact hash the sketch path applied.
    One distinct-shuffle over the values (map-side partial aggregation;
    the same scan that feeds the sketch build), no driver collection."""
    from pyspark.sql import functions as F

    return (
        df.select(F.col(col).alias("value"))
        .distinct()
        .select("value", F.xxhash64("value").alias("item"))
    )


def resolve_item_hashes(items_df, dim):
    """Join a (tiny) sketch output carrying an ``item`` hash column back
    to original strings via a :func:`hash_item_dimension` frame. The
    k-row sketch output is broadcast; the dimension — corpus-scale —
    never moves. Returns the dimension's ``value`` plus every items_df
    column."""
    from pyspark.sql import functions as F

    return dim.join(F.broadcast(items_df), "item").drop("item")
