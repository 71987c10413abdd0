"""Count-Min sketch kernel tests (reference strategy:
/root/reference/src/countminsketch.rs — scripted small ops :368-408,
merge = sum :410-434, mismatch raises :436-466, ctor bounds :343-359,
sizing golden :337-341)."""

import numpy as np
import pytest

from sketchlib.cms import CountMinSketch
from sketchlib.codec import SketchParamMismatch


def test_sizing_golden():
    # reference golden: ε=0.01, δ=0.1 → w=272, d=3
    c = CountMinSketch.with_point_query_properties(0.01, 0.1)
    assert (c.w, c.d) == (272, 3)


@pytest.mark.parametrize("eps,delta", [(0.0, 0.1), (-1, 0.1), (0.01, 0.0), (0.01, 1.0), (0.01, 1.5)])
def test_property_ctor_bounds(eps, delta):
    with pytest.raises(ValueError):
        CountMinSketch.with_point_query_properties(eps, delta)


@pytest.mark.parametrize("w,d", [(0, 3), (10, 0), (-1, 1)])
def test_ctor_bounds(w, d):
    with pytest.raises(ValueError):
        CountMinSketch(w, d)


def test_scripted_small_ops():
    c = CountMinSketch(1000, 4)
    assert c.is_empty()
    c.update(np.array([13, 13, 13, 42]))
    est = c.query_points(np.array([13, 42]))
    # never underestimates; at this load, collisions are absent
    assert est[0] == 3 and est[1] == 1
    c.update_hashed(
        np.zeros(0, dtype=np.uint64)
    )  # empty batch no-op
    assert c.total() == 4
    c.clear()
    assert c.is_empty()


def test_never_underestimates_and_eps_bound():
    rng = np.random.default_rng(2)
    data = (50_000 * rng.random(200_000) ** 3).astype(np.int64)
    eps, delta = 0.001, 0.01
    c = CountMinSketch.with_point_query_properties(eps, delta)
    for chunk in np.array_split(data, 8):
        c.update(chunk)
    uniq, counts = np.unique(data, return_counts=True)
    est = c.query_points(uniq).astype(np.int64)
    assert (est >= counts).all(), "CMS must never underestimate"
    viol = (est > counts + eps * len(data)).mean()
    assert viol < delta


def test_merged_states_keep_eps_bound():
    """The same bound after a merge: 8 uneven partials of CMS and of
    CMS-backed TopK (each pruned to its 64-candidate budget), shipped
    through their bytes and merged, keep the never-undercount and eps*N
    guarantees over every item, and TopK's returned items sit inside
    them."""
    from sketchlib.topk import TopK

    rng = np.random.default_rng(3)
    data = (50_000 * rng.random(200_000) ** 3).astype(np.int64)
    eps, delta = 0.001, 0.01
    whole = CountMinSketch.with_point_query_properties(eps, delta)
    whole.update(data)
    w, d = whole.w, whole.d
    cuts = np.sort(rng.choice(np.arange(1, data.size), 7, replace=False))
    cms_parts, topk_parts = [], []
    for part in np.split(data, cuts):
        c, t = CountMinSketch(w, d), TopK(k=10, w=w, d=d)
        c.update(part)
        t.update(part)
        assert t.candidates.size == t.budget  # pruned
        cms_parts.append(CountMinSketch.from_bytes(c.to_bytes()))
        topk_parts.append(TopK.from_bytes(t.to_bytes()))
    cms, topk = cms_parts[0], topk_parts[0]
    for c, t in zip(cms_parts[1:], topk_parts[1:]):
        cms.merge(c)
        topk.merge(t)
    assert cms.to_bytes() == whole.to_bytes()
    uniq, counts = np.unique(data, return_counts=True)
    true = dict(zip(uniq.tolist(), counts.tolist()))
    for merged in (cms, topk.cms):
        est = merged.query_points(uniq).astype(np.int64)
        assert (est >= counts).all(), "merged CMS must never underestimate"
        viol = (est > counts + eps * len(data)).mean()
        assert viol < delta
    items, est = topk.query()
    assert items.size == 10
    for it, e in zip(items.tolist(), est.astype(np.int64).tolist()):
        assert true[it] <= e <= true[it] + eps * len(data)


def test_merge_equals_single_sketch():
    a, b = CountMinSketch(100, 3), CountMinSketch(100, 3)
    a.update(np.array([1, 2, 3]))
    b.update(np.array([3, 4]))
    whole = CountMinSketch(100, 3)
    whole.update(np.array([1, 2, 3, 3, 4]))
    a.merge(b)
    assert np.array_equal(a.table, whole.table)


def test_merge_not_idempotent():
    # CMS is a counter: merging a sketch with itself doubles counts
    a = CountMinSketch(100, 3)
    a.update(np.array([5]))
    b = CountMinSketch.from_bytes(a.to_bytes())
    a.merge(b)
    assert int(a.query_points(np.array([5]))[0]) == 2


def test_merge_param_mismatch_raises():
    with pytest.raises(SketchParamMismatch):
        CountMinSketch(100, 3).merge(CountMinSketch(101, 3))
    with pytest.raises(SketchParamMismatch):
        CountMinSketch(100, 3).merge(CountMinSketch(100, 4))
    with pytest.raises(SketchParamMismatch):
        CountMinSketch(100, 3, seed=1).merge(CountMinSketch(100, 3, seed=2))


def test_overflow_guard():
    c = CountMinSketch(4, 1)
    big = np.uint64(1) << np.uint64(62)
    c.table[:] = big
    with pytest.raises(OverflowError):
        c.update_hashed(np.array([123], dtype=np.uint64), np.array([10], dtype=np.uint64))


def test_serde_roundtrip():
    c = CountMinSketch(272, 3)
    c.update(np.arange(1000))
    c2 = CountMinSketch.from_bytes(c.to_bytes())
    assert np.array_equal(c.table, c2.table)
    assert c2.params() == c.params()


def test_query_absent_keys_small():
    c = CountMinSketch(10_000, 5)
    c.update(np.arange(100))
    est = c.query_points(np.arange(10_000, 10_100))
    assert (est.astype(np.int64) <= 1).all()  # nearly-empty table ⇒ ~0


def test_huge_counts_stay_exact_past_float53():
    """ADVICE r5: the dense bincount fast path accumulates through
    float64 weights, which stop being integer-exact at 2^53. A batch
    whose total crosses that line must take the exact uint64 path and
    produce counts with no float rounding."""
    big = np.uint64(1) << np.uint64(53)  # 2^53: float64 granularity = 2
    h = np.arange(64, dtype=np.int64)
    counts = np.full(64, 1, dtype=np.uint64)
    counts[0] = big + np.uint64(1)  # odd value: float64 would round it
    c = CountMinSketch(16, 1)  # w small => h.size*4 >= w => dense-eligible
    from sketchlib.hashing import hash_i64

    c.update_hashed(hash_i64(h, c.seed), counts)
    est = c.query_points(h[:1]).astype(np.uint64)
    # the odd low bit survives only on the exact integer path
    assert est[0] >= big + np.uint64(1)
    assert int(c.table.sum()) == int(big) + 1 + 63
