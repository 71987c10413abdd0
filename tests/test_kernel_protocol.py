"""The kernel protocol: every class in ``agg.KERNELS`` declares its
``kind``, its ``input`` and its ``merge_contract`` next to its code, and
meets what it declares — a ``"bytes"`` class merges to the bytes of one
kernel fed every value under any partitioning and merge-tree shape, and
a class with ``update_unique`` gets ``update``'s bytes from deduplicated
values (the stage-1 consumer relies on both). Stage-1 planning rejects,
Spark-free, the specs the declarations rule out.

The ``"bounded"`` classes' bound checks are the per-kind property tests
in ``tests/test_property.py``, whose ``_merged`` this suite shares.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from sketchlib.agg import KERNELS, SketchSpec, _plan_stage1, load_state
from sketchlib.codec import read_kind
from sketchlib.hashing import unique_counts
from test_property import _merged, _split, cuts_st, order_seed_st, shape_st

INPUTS = ("hashed", "float", "weighted")
CONTRACTS = ("bytes", "bounded")

# constructor params per kind: a kind missing here fails every test below
PARAMS = {
    "ams": {"w": 256, "d": 5, "seed": 3},
    "bloom": {"m": 1 << 14, "k": 5, "seed": 3},
    "cms": {"w": 512, "d": 4, "seed": 3},
    "ddsketch": {"alpha": 0.01},
    "fd": {"l": 4, "dim": 4},
    "hll": {"p": 10, "seed": 3},
    "kll": {"k": 200, "seed": 3},
    "kmv": {"k": 64, "seed": 3},
    "lossy": {"epsilon": 0.01},
    "reservoir": {"k": 50, "seed": 3},
    "spacesaving": {"m": 32},
    "tdigest": {"delta": 100.0},
    "topk": {"k": 3, "w": 256, "d": 4, "seed": 3},
}
KINDS = sorted(KERNELS)
SETTINGS = dict(max_examples=40, deadline=None)


def _values(cls, n: int, seed: int, spread: int) -> np.ndarray:
    """``n`` values of the declared input: int64 items over a
    ``spread``-wide domain (narrow ones repeat), or float64 values with
    repeats, zeros and negatives. Multiples of 4 fit fd's ``dim``."""
    rng = np.random.default_rng(seed)
    n -= n % 4
    if cls.input == "hashed":
        return rng.integers(-spread, spread, n, dtype=np.int64)
    return np.round(rng.normal(0.0, spread, n), 1)


draw_st = st.tuples(
    st.integers(0, 3000), st.integers(0, 2**31), st.sampled_from([40, 1000, 2**40])
)


def _cls(kind: str):
    assert kind in PARAMS, f"kernel kind {kind!r} has no entry in PARAMS"
    return KERNELS[kind]


@pytest.mark.parametrize("kind", KINDS)
def test_declares_the_protocol(kind):
    cls = _cls(kind)
    for attr in ("kind", "input", "merge_contract"):
        assert attr in vars(cls), f"{cls.__name__} does not declare {attr}"
    assert cls.kind == kind
    assert cls.input in INPUTS
    assert cls.merge_contract in CONTRACTS
    k = cls(**PARAMS[kind])
    k.update(_values(cls, 400, 0, 1000))
    blob = k.to_bytes()
    assert read_kind(blob) == kind
    assert type(load_state(blob)) is cls


# getattr: a class without the declaration fails test_declares_the_protocol
@pytest.mark.parametrize(
    "kind", [k for k in KINDS if getattr(KERNELS[k], "merge_contract", None) == "bytes"]
)
@given(draw=draw_st, cuts=cuts_st, order=order_seed_st, shape=shape_st)
@settings(**SETTINGS)
def test_bytes_contract_any_partitioning_and_tree(kind, draw, cuts, order, shape):
    cls = _cls(kind)
    v = _values(cls, *draw)
    whole = cls(**PARAMS[kind])
    whole.update(v)
    merged = _merged(cls, PARAMS[kind], _split(v, cuts), order, shape)
    assert merged.to_bytes() == whole.to_bytes()


@pytest.mark.parametrize("kind", [k for k in KINDS if hasattr(KERNELS[k], "update_unique")])
@given(draw=draw_st)
@settings(**SETTINGS)
def test_update_unique_gives_update_bytes(kind, draw):
    cls = _cls(kind)
    assert cls.input == "hashed"  # the consumer dedups int64 items only
    v = _values(cls, *draw)
    a = cls(**PARAMS[kind])
    a.update(v)
    b = cls(**PARAMS[kind])
    b.update_unique(*unique_counts(v))
    assert a.to_bytes() == b.to_bytes()


# -- stage-1 planning reads the declarations (no Spark session needed) --

SCHEMA = StructType(
    [
        StructField("x", LongType()),
        StructField("w", DoubleType()),
        StructField("s", StringType()),
        StructField("toks", ArrayType(StringType())),
    ]
)


def test_unknown_kind_rejected_at_planning():
    with pytest.raises(ValueError, match=r"unknown kind 'nosuch'.*'hll'"):
        _plan_stage1(SCHEMA, [], [SketchSpec("s", "nosuch", "x")])


@pytest.mark.parametrize("kind", KINDS)
def test_weight_col_only_on_weighted_kernels(kind):
    cls = _cls(kind)
    spec = SketchSpec("s", kind, "x", PARAMS[kind], weight_col="w")
    if cls.input == "weighted":
        needed, _ = _plan_stage1(SCHEMA, [], [spec])
        assert needed.names == ["x", "w"]
    else:
        with pytest.raises(ValueError, match="weight_col"):
            _plan_stage1(SCHEMA, [], [spec])


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("col", ["s", "toks"])
def test_string_input_rejected_at_planning(kind, col):
    """A sketch column still string at planning (the direct feed does
    no pre-hash) fails there, not inside a task; a hashed kernel's error
    points at the JVM-side xxhash64 pre-hash, the others' at their
    float64 input."""
    hashed = _cls(kind).input == "hashed"
    match = "xxhash64" if hashed else "takes float64"
    with pytest.raises(ValueError, match=match):
        _plan_stage1(SCHEMA, [], [SketchSpec("q", kind, col, PARAMS[kind])])


@pytest.mark.parametrize(
    "params, err, match",
    [
        ({"pp": 12}, TypeError, r"spec 'a'.*'pp'"),
        ({"p": 30}, ValueError, r"spec 'a'.*p \(30\)"),
    ],
    ids=["misspelt", "out_of_range"],
)
def test_bad_params_rejected_at_planning(params, err, match):
    """Each spec's kernel is built once at planning, so params its
    constructor refuses fail there, naming the spec, not inside the
    first task."""
    with pytest.raises(err, match=match):
        _plan_stage1(SCHEMA, [], [SketchSpec("a", "hll", "x", params)])
