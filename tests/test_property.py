"""Property-based tests (hypothesis): the merge contract under random
data, random partitionings, random parameters.

The reference proves merge ≡ single-sketch on fixed fixtures
(hyperloglog/mod.rs:556-574 etc.); these fuzz the same contract — any
partitioning, any merge order — which is exactly the property the Spark
tree merge relies on (partition layout must never change results).
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from sketchlib import HLL, KMV, BloomFilter, CountMinSketch, KLL, TDigest

SETTINGS = dict(max_examples=25, deadline=None)


def _split(values: np.ndarray, cuts: list[int]):
    pts = sorted({c % (values.size + 1) for c in cuts})
    return np.split(values, pts)


def _ints(n: int, seed: int, spread: int) -> list:
    """``n`` int64 items over a ``spread``-wide domain (narrow ones repeat)."""
    return np.random.default_rng(seed).integers(-spread, spread, n, dtype=np.int64).tolist()


def _floats(n: int, seed: int, distinct: int | None, bound: float, edges: list) -> list:
    """``n`` float64 values inside ±``bound``: magnitudes log-uniform
    from 1e-300 up to ``bound``, random signs and about 5% zeros, picked
    from a pool of ``distinct`` values (all distinct when None; a small
    pool repeats), with the Hypothesis-drawn ``edges`` (subnormals,
    ±``bound``, signed zeros) written at random positions."""
    rng = np.random.default_rng(seed)
    m = n if distinct is None else distinct
    pool = 10.0 ** rng.uniform(-300.0, np.log10(bound), m) * rng.choice([-1.0, 1.0], m)
    pool[rng.random(m) < 0.05] = 0.0
    v = pool if distinct is None else rng.choice(pool, n)
    v[rng.integers(0, n, len(edges))] = edges
    return v.tolist()


# sizes and values drawn from a Hypothesis seed with numpy, as in
# test_kernel_protocol.py: drawn element by element, the median list
# held 5 values, too few for KLL compaction, TopK pruning, lossy
# windows or a full SpaceSaving table
values_st = st.tuples(
    st.integers(1, 3000), st.integers(0, 2**31), st.sampled_from([40, 1000, 2**40])
).map(lambda t: _ints(*t))


def floats_st(bound: float, max_size: int):
    edges = st.lists(
        st.floats(-bound, bound, allow_nan=False, allow_infinity=False), max_size=8
    )
    return st.tuples(
        st.integers(1, max_size), st.integers(0, 2**31), st.sampled_from([5, 200, None]), edges
    ).map(lambda t: _floats(t[0], t[1], t[2], bound, t[3]))


cuts_st = st.lists(st.integers(0, 10**9), min_size=0, max_size=6)
order_seed_st = st.integers(0, 2**31)
# merge-tree shapes: a left fold, neighbours merged level by level, and
# a right fold (the last part merged into the one before it, and so on)
shape_st = st.sampled_from(["flat", "binary", "right_deep"])


def _merged(kernel_cls, kwargs, parts, order_seed, shape):
    """One kernel per part, each shipped through its bytes (the
    shuffle), in a shuffled order, merged as a ``shape`` tree."""
    rng = np.random.default_rng(order_seed)
    sketches = []
    for p in parts:
        k = kernel_cls(**kwargs)
        if p.size:
            k.update(p)
        sketches.append(kernel_cls.from_bytes(k.to_bytes()))
    rng.shuffle(sketches)
    if shape == "right_deep":
        sketches.reverse()
        out = sketches[0]
        for s in sketches[1:]:
            s.merge(out)
            out = s
        return out
    while len(sketches) > 1:
        if shape == "flat":
            sketches[0].merge(sketches.pop(1))
        else:
            level = sketches[::2]
            for a, b in zip(sketches[::2], sketches[1::2]):
                a.merge(b)
            sketches = level
    return sketches[0]


@given(values=values_st, cuts=cuts_st, order=order_seed_st, p=st.integers(6, 12), shape=shape_st)
@settings(**SETTINGS)
def test_hll_merge_equals_whole(values, cuts, order, p, shape):
    v = np.array(values, dtype=np.int64)
    whole = HLL(p=p, seed=7)
    whole.update(v)
    merged = _merged(HLL, {"p": p, "seed": 7}, _split(v, cuts), order, shape)
    assert merged.to_bytes() == whole.to_bytes()  # byte-identical state
    exact = len(set(values))
    assert abs(whole.count() - exact) <= max(4 * 1.04 / np.sqrt(2**p) * exact, 3)


@given(values=values_st, cuts=cuts_st, order=order_seed_st, shape=shape_st)
@settings(**SETTINGS)
def test_cms_merge_equals_whole_and_overestimates(values, cuts, order, shape):
    v = np.array(values, dtype=np.int64)
    whole = CountMinSketch(512, 4, seed=3)
    whole.update(v)
    merged = _merged(CountMinSketch, {"w": 512, "d": 4, "seed": 3}, _split(v, cuts), order, shape)
    assert merged.to_bytes() == whole.to_bytes()
    uniq, counts = np.unique(v, return_counts=True)
    est = whole.query_points(uniq)
    # the deterministic guarantee: CMS never undercounts (the eps*N
    # upper bound holds w.p. 1-delta per point and is asserted
    # statistically in test_cms.py, not per-example here)
    assert (est >= counts.astype(np.uint64)).all()


@given(values=values_st, cuts=cuts_st, order=order_seed_st, shape=shape_st)
@settings(**SETTINGS)
def test_bloom_merge_equals_whole_no_fn(values, cuts, order, shape):
    v = np.array(values, dtype=np.int64)
    whole = BloomFilter(1 << 14, 5, seed=11)
    whole.update(v)
    merged = _merged(
        BloomFilter, {"m": 1 << 14, "k": 5, "seed": 11}, _split(v, cuts), order, shape
    )
    assert merged.to_bytes() == whole.to_bytes()
    assert whole.query(v).all()  # zero false negatives, always


@given(
    values=floats_st(1e9, 2000),
    cuts=cuts_st,
    order=order_seed_st,
    shape=shape_st,
)
@settings(**SETTINGS)
def test_kll_rank_error_after_merge(values, cuts, order, shape):
    v = np.array(values, dtype=np.float64)
    merged = _merged(KLL, {"k": 200, "seed": 5}, _split(v, cuts), order, shape)
    assert merged.n == v.size
    s = np.sort(v)
    for q in (0.1, 0.5, 0.9):
        est = merged.quantile(q)
        # duplicate-aware: a repeated value occupies the whole rank
        # interval [left, right]; q must fall inside it up to eps
        lo = np.searchsorted(s, est, side="left") / v.size
        hi = np.searchsorted(s, est, side="right") / v.size
        assert lo - 0.15 <= q <= hi + 0.15  # generous: k=200 ⇒ eps ~ 1-2%

@given(
    values=floats_st(1e6, 2000),
    cuts=cuts_st,
    order=order_seed_st,
    shape=shape_st,
)
@settings(**SETTINGS)
def test_tdigest_moments_exact_after_merge(values, cuts, order, shape):
    v = np.array(values, dtype=np.float64)
    merged = _merged(TDigest, {"delta": 100.0}, _split(v, cuts), order, shape)
    assert merged.count() == v.size
    assert merged.min == v.min() and merged.max == v.max()
    # sums of float partitions reassociate; tolerance scales with mass
    assert abs(merged.sum() - v.sum()) <= 1e-9 * max(1.0, np.abs(v).sum())


# ---------------------------------------------------------------------------
# dense/sparse update-path equivalence (r4: bincount CMS, scatter Bloom)
# ---------------------------------------------------------------------------


@given(
    values=values_st,
    m=st.integers(65, 1 << 16),
    k=st.integers(1, 8),
    chunk=st.integers(1, 3000),
)
@settings(**SETTINGS)
def test_bloom_dense_and_sparse_paths_byte_identical(values, m, k, chunk):
    """One bulk update (dense scatter+packbits path for big batches) must
    produce byte-identical state to many tiny updates (sparse or.at
    path), for any m including non-word-aligned ones."""
    v = np.array(values, dtype=np.int64)
    a = BloomFilter(m, k, seed=7)
    a.update(v)
    b = BloomFilter(m, k, seed=7)
    for i in range(0, v.size, chunk):
        b.update(v[i : i + chunk])
    assert a.to_bytes() == b.to_bytes()


@given(
    values=values_st,
    w=st.sampled_from([272, 1024, 4792, 8192]),
    d=st.integers(1, 6),
    chunk=st.integers(1, 3000),
)
@settings(**SETTINGS)
def test_cms_dense_and_sparse_paths_byte_identical(values, w, d, chunk):
    """Bincount accumulation (dense) vs np.add.at (sparse chunks) must
    build the identical table — counts are integers either way."""
    v = np.array(values, dtype=np.int64)
    a = CountMinSketch(w, d, seed=7)
    a.update(v)
    b = CountMinSketch(w, d, seed=7)
    for i in range(0, v.size, chunk):
        b.update(v[i : i + chunk])
    assert a.to_bytes() == b.to_bytes()
    assert a.total() == v.size


@given(values=values_st, cuts=cuts_st, order=order_seed_st, k=st.integers(8, 256), shape=shape_st)
@settings(**SETTINGS)
def test_kmv_merge_equals_whole_and_estimates(values, cuts, order, k, shape):
    v = np.array(values, dtype=np.int64)
    whole = KMV(k=k, seed=7)
    whole.update(v)
    merged = _merged(KMV, {"k": k, "seed": 7}, _split(v, cuts), order, shape)
    assert merged.to_bytes() == whole.to_bytes()  # byte-identical state
    exact = len(set(values))
    if exact < k:
        assert whole.distinct() == exact  # exact below k
    else:
        assert abs(whole.distinct() - exact) <= max(6 / np.sqrt(k - 2) * exact, 3)
    # self-similarity is exactly 1; state stays sorted+distinct
    # (compare elementwise — uint64 diff would wrap on out-of-order)
    assert whole.jaccard(merged) == 1.0
    assert bool(np.all(whole.mins[1:] > whole.mins[:-1]))


@given(values=values_st, cuts=cuts_st, order=order_seed_st, m=st.integers(1, 64), shape=shape_st)
@settings(**SETTINGS)
def test_spacesaving_guarantees_any_partitioning(values, cuts, order, m, shape):
    """SpaceSaving is estimate-equivalent (not byte-equal) across
    partitionings, so the fuzzed contract is its guarantee triple:
    undercount <= err <= n/(m+1), unmonitored true counts <= err, and
    query(phi) a superset of the true phi-heavy hitters — for ANY
    split, merge order, and table size."""
    from sketchlib import SpaceSaving

    v = np.array(values, dtype=np.int64)
    merged = _merged(SpaceSaving, {"m": m}, _split(v, cuts), order, shape)
    uniq, counts = np.unique(v, return_counts=True)
    true = dict(zip(uniq.tolist(), counts.tolist()))
    n = v.size
    assert merged.n == n
    assert merged.err * (m + 1) <= n
    assert merged.items.size <= m
    stored = dict(zip(merged.items.tolist(), merged.f.astype("int64").tolist()))
    for item, f in stored.items():
        t = true.get(item, 0)
        assert f <= t and t - f <= merged.err
    for item, t in true.items():
        if item not in stored:
            assert t <= merged.err
    phi = 0.05
    hh_true = {i for i, t in true.items() if t >= phi * n}
    got = set(merged.query(phi)[0].tolist())
    # detection precondition (kernel docstring): with m counters only
    # frequencies above n/(m+1) are detectable, so the superset claim
    # requires err < ceil(phi*n) — always true once m >= ceil(1/phi)
    if merged.err < int(np.ceil(phi * n)):
        assert hh_true <= got


@given(
    values=values_st,
    cuts=cuts_st,
    order=order_seed_st,
    inv_eps=st.sampled_from([50, 200, 1000]),
    shape=shape_st,
)
@settings(**SETTINGS)
def test_lossy_guarantees_any_partitioning(values, cuts, order, inv_eps, shape):
    """LossyCounter's distributed merge (Manku–Motwani slack
    accounting) must keep the published guarantees under any split and
    merge order: reported f never overcounts, undercounts by at most
    ceil(eps*n), unstored items have true count <= ceil(eps*n), and
    query(theta) is a superset of the true theta-heavy hitters for
    theta > eps."""
    from sketchlib import LossyCounter

    eps = 1.0 / inv_eps
    v = np.array(values, dtype=np.int64)
    merged = _merged(LossyCounter, {"epsilon": eps}, _split(v, cuts), order, shape)
    uniq, counts = np.unique(v, return_counts=True)
    true = dict(zip(uniq.tolist(), counts.tolist()))
    n = v.size
    assert merged.n == n
    slack = int(np.ceil(eps * n))
    stored = dict(zip(merged.items.tolist(), merged.f.astype("int64").tolist()))
    for item, f in stored.items():
        t = true.get(item, 0)
        assert f <= t and t - f <= slack
    for item, t in true.items():
        if item not in stored:
            assert t <= slack
    theta = 0.05
    if theta > eps:
        # the streaming algorithm's superset guarantee is exact; the
        # distributed merge's mid-window prune (b = ceil(n/width)) and
        # one-sided slack add at most 2 counts of rounding slop, so the
        # fuzzed claim is superset of items 2 above the exact threshold
        # (the driver query asserts the boundary-exact form at real n,
        # where thresholds are far from the slop)
        hh_true = {i for i, t in true.items() if t >= theta * n + 2}
        got = set(merged.query(theta)[0].tolist())
        assert hh_true <= got


@given(
    values=floats_st(1e12, 2000),
    cuts=cuts_st,
    order=order_seed_st,
    alpha=st.sampled_from([0.005, 0.01, 0.05]),
    shape=shape_st,
)
@settings(**SETTINGS)
def test_ddsketch_merge_byte_identical_and_relative_error(values, cuts, order, alpha, shape):
    """DDSketch merge is a bucket-wise counter add: the merged state
    must be BYTE-IDENTICAL to the whole-stream build for any split and
    merge order, and quantiles must sit within alpha relative error of
    the exact rank element (0 exact when the rank lands on a zero)."""
    from sketchlib.ddsketch import DDSketch

    v = np.array(values, dtype=np.float64)
    whole = DDSketch(alpha=alpha)
    whole.update(v)
    merged = _merged(DDSketch, {"alpha": alpha}, _split(v, cuts), order, shape)
    assert merged.to_bytes() == whole.to_bytes()
    s = np.sort(v)
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        true = s[int(np.floor(q * (v.size - 1)))]
        est = whole.quantile(q)
        if true == 0.0:
            assert est == 0.0
        else:
            assert abs(est - true) <= alpha * abs(true) + 1e-12


@given(cut=st.integers(0, 400), flip=st.integers(0, 10**9), data=st.data())
@settings(**SETTINGS)
def test_codec_never_silently_accepts_corruption(cut, flip, data):
    """Any truncation or byte-flip of a state blob must either raise a
    typed error (SketchCodecError / SketchParamMismatch / ValueError /
    OverflowError family from the kernel's own length checks) or — for
    a flip confined to the raw payload of an UNCOMPRESSED store —
    deserialize to the same kind with the same params; it must never
    come back as a different kind or explode with an unrelated error."""
    from sketchlib import HLL, KMV, SpaceSaving
    from sketchlib.agg import load_state
    from sketchlib.codec import SketchCodecError, unpack

    kernel = data.draw(st.sampled_from(["hll", "kmv", "ss"]))
    if kernel == "hll":
        k = HLL(p=8, seed=1)
    elif kernel == "kmv":
        k = KMV(k=64, seed=1)
    else:
        k = SpaceSaving(m=16)
    k.update(np.arange(500))
    blob = bytearray(k.to_bytes())
    if cut < len(blob):
        blob = blob[:cut]
    elif len(blob) > 0:
        blob[flip % len(blob)] ^= 0xFF
    try:
        out = load_state(bytes(blob))
    except (SketchCodecError, ValueError, OverflowError, KeyError, TypeError):
        return  # typed rejection is the contract
    # accepted: must at least be the same kind and param-compatible
    kind, params, _ = unpack(bytes(blob))
    assert type(out).__name__ == type(k).__name__
    assert params == k.params()


@given(
    values=floats_st(1e9, 2500),
    cuts=cuts_st,
    order=order_seed_st,
    k=st.integers(1, 300),
    shape=shape_st,
)
@settings(**SETTINGS)
def test_reservoir_merge_invariants_any_partitioning(values, cuts, order, k, shape):
    """Weighted reservoir merge (Efraimidis–Spirakis): for ANY split,
    merge order, and k — seen-count is exact, sample size is
    min(k, n), and every sampled element came from the data (uniformity
    is statistical and asserted in test_gen_spark / FIXTURES.md)."""
    from sketchlib import Reservoir

    v = np.array(values, dtype=np.float64)
    merged = _merged(Reservoir, {"k": k, "seed": 7}, _split(v, cuts), order, shape)
    assert merged.n == v.size
    assert merged.sample.size == min(k, v.size)
    # every kept element is a real data element (bitwise: float64 ==)
    data = set(v.tolist())
    assert all(x in data for x in merged.sample.tolist())


# drawn element by element over a 2^41-wide domain, where nearly every
# item is distinct and the per-example e/w·N bound holds. Over many flat
# counts (values_st) the readout picks the highest estimates, so a
# colliding item exceeds that bound on working code; test_cms.py checks
# it after merges over pruned TopK partials instead.
@given(
    values=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=3000),
    cuts=cuts_st,
    order=order_seed_st,
    k=st.integers(1, 12),
    shape=shape_st,
)
@settings(**SETTINGS)
def test_topk_merge_contract_any_partitioning(values, cuts, order, k, shape):
    """Merged CMS-backed TopK under any split/merge order: the CMS
    substrate is exact-sum (estimates of returned items equal the
    whole-stream CMS's, never undercount their true counts and respect
    the e/w bound), candidates only ever come from the data, and the
    readout is (count desc, item asc)-ordered with at most k rows."""
    from sketchlib.topk import TopK

    v = np.array(values, dtype=np.int64)
    w, d = 1024, 4
    merged = _merged(
        TopK, {"k": k, "w": w, "d": d, "seed": 9}, _split(v, cuts), order, shape
    )
    whole = CountMinSketch(w, d, seed=9)
    whole.update(v)
    uniq, counts = np.unique(v, return_counts=True)
    true = dict(zip(uniq.tolist(), counts.tolist()))
    items, est = merged.query()
    assert items.size <= k
    assert set(items.tolist()) <= set(true)  # candidates ⊆ data
    assert est.tolist() == whole.query_points(items).tolist()
    eps_n = np.e / w * v.size
    for it, e in zip(items.tolist(), est.tolist()):
        assert true[it] <= e <= true[it] + eps_n
    keys = [(-e, it) for it, e in zip(items.tolist(), est.tolist())]
    assert keys == sorted(keys)


@given(
    rows=st.lists(
        st.lists(
            st.floats(-100, 100, allow_nan=False, allow_infinity=False),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=120,
    ),
    cuts=cuts_st,
    order=order_seed_st,
    l=st.integers(2, 4),
    shape=shape_st,
)
@settings(**SETTINGS)
def test_fd_spectral_bound_any_partitioning(rows, cuts, order, l, shape):
    """Frequent Directions under any split/merge order: the carried
    shrinkage total must remain a true spectral bound
    ||A^T A - B^T B||_2 <= delta_total <= ||A||_F^2 / l (Liberty
    KDD'13 Thm 1.1 + the mergeability accounting of Ghashami et al.),
    and n / ||A||_F^2 must stay exact."""
    from sketchlib.fd import FrequentDirections

    A = np.array(rows, dtype=np.float64)
    dim = 4
    # split by ROWS (dim-aligned), then flatten each part
    row_parts = _split(np.arange(A.shape[0]), cuts)
    parts = [A[idx].ravel() for idx in row_parts]
    merged = _merged(FrequentDirections, {"l": l, "dim": dim}, parts, order, shape)
    assert merged.n == A.shape[0]
    assert abs(merged.fro2 - np.einsum("ij,ij->", A, A)) <= 1e-6 * max(merged.fro2, 1.0)
    gram = A.T @ A
    diff = gram - merged.cov_sketch()
    spec = float(np.linalg.norm(diff, 2))
    assert spec <= merged.delta_total + 1e-6 * max(1.0, merged.fro2)
    assert merged.delta_total <= merged.fro2 / l + 1e-6 * max(1.0, merged.fro2)


@given(
    values=values_st,
    cuts=cuts_st,
    order=order_seed_st,
    w=st.sampled_from([256, 1024]),
    shape=shape_st,
)
@settings(**SETTINGS)
def test_ams_merge_equals_whole_and_unbiased_family(values, cuts, order, w, shape):
    """CountSketch/AMS merge is a signed int64 table add — merged state
    must be byte-identical to a whole-stream build for any split and
    merge order; point estimates of present items stay within the
    3/sqrt(w)·L2 single-example sanity window around truth (the
    unbiasedness itself is statistical, asserted in test_ams.py)."""
    from sketchlib import CountSketch

    v = np.array(values, dtype=np.int64)
    whole = CountSketch(w=w, d=5, seed=13)
    whole.update(v)
    merged = _merged(CountSketch, {"w": w, "d": 5, "seed": 13}, _split(v, cuts), order, shape)
    assert merged.to_bytes() == whole.to_bytes()
    uniq, counts = np.unique(v, return_counts=True)
    est = whole.query_points(uniq)
    l2 = float(np.sqrt((counts.astype(np.float64) ** 2).sum()))
    # median-of-d estimates: |est - true| <= 3/sqrt(w)*L2 holds w.h.p.
    # per point; allow the generous 5x window for a per-example assert
    assert (np.abs(est - counts) <= 5 * 3.0 / np.sqrt(w) * l2 + 1e-9).all()


@given(
    ins=st.lists(st.integers(0, 5000), min_size=1, max_size=600),
    dels=st.lists(st.integers(0, 40), min_size=0, max_size=80),
    data=st.data(),
)
@settings(**SETTINGS)
def test_filter_family_no_false_negatives_under_ops(ins, dels, data):
    """Cuckoo and quotient filters under random insert/delete
    sequences: a currently-inserted element NEVER queries false
    (the AMQ no-false-negative contract, cuckoofilter.rs /
    quotientfilter.rs); cuckoo's exact len tracks the multiset size;
    deletes only remove what was inserted."""
    from sketchlib.cuckoo import CuckooFilter, CuckooFilterFull
    from sketchlib.quotient import QuotientFilter, QuotientFilterFull

    which = data.draw(st.sampled_from(["cuckoo", "quotient"]))
    if which == "cuckoo":
        f = CuckooFilter(n_buckets=1 << 10, bucketsize=4, l_fingerprint=16, seed=3)
    else:
        f = QuotientFilter(bits_quotient=11, bits_remainder=13, seed=3)
    live: list[int] = []
    try:
        for x in ins:
            f.update(np.array([x], dtype=np.int64))
            live.append(x)
    except (CuckooFilterFull, QuotientFilterFull):
        pass  # capacity exhaustion is a legal, loud outcome
    if live:
        arr = np.array(live, dtype=np.int64)
        assert f.query(arr).all()  # no false negatives, ever
    if which == "cuckoo":
        assert len(f) == len(live)  # exact multiset len
        for d in dels:
            if live:
                victim = live.pop(d % len(live))
                assert bool(f.delete(np.array([victim], dtype=np.int64))[0])
        if live:
            assert f.query(np.array(live, dtype=np.int64)).all()
        assert len(f) == len(live)
