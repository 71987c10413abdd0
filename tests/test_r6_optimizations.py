"""Round-6 optimization internals: the fast paths must be byte-identical
to the paths they replaced.

- codec: zstd-1 payload compression (round trip, zlib read-compat,
  corrupt-payload normalization, non-dict JSON header).
- agg._grouped_unique_counts: the reorder-free combined-bincount dedup
  must produce exactly the fallback's per-group (uniq, counts).
- _consume_partials: states byte-identical whether the combined path or
  the take/unique fallback ran.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from sketchlib.agg import _consume_partials, _grouped_unique_counts
from sketchlib.codec import SketchCodecError, pack, unpack
from sketchlib.hashing import unique_counts


def test_codec_zstd_roundtrip_and_shrink():
    payload = np.zeros(100_000, dtype=np.uint64)
    payload[::97] = np.arange(1031, dtype=np.uint64)[: payload[::97].size]
    blob = pack("cms", {"w": 1, "d": 1, "seed": 0}, payload.tobytes())
    kind, params, out = unpack(blob)
    assert kind == "cms" and params == {"w": 1, "d": 1, "seed": 0}
    assert out == payload.tobytes()
    assert len(blob) < payload.nbytes  # sparse table actually shrank


def test_codec_zlib_blobs_still_unpack():
    import json
    import struct
    import zlib

    payload = b"x" * 4096
    header = json.dumps({"kind": "hll", "p": 4, "seed": 1}, sort_keys=True,
                        separators=(",", ":")).encode()
    legacy = (b"SKL1" + struct.pack("<BBI", 2, 1, len(header)) + header
              + zlib.compress(payload, 1))
    kind, params, out = unpack(legacy)
    assert kind == "hll" and out == payload


def test_codec_corrupt_zstd_payload_is_typed():
    blob = bytearray(pack("hll", {"p": 4, "seed": 1}, b"\x00" * 4096))
    blob[-10:] = b"\xff" * 10
    with pytest.raises(SketchCodecError):
        unpack(bytes(blob))


def test_codec_non_dict_header_is_typed():
    import struct

    bad = b"SKL1" + struct.pack("<BBI", 2, 0, 2) + b"[]" + b"pay"
    with pytest.raises(SketchCodecError):
        unpack(bad)


def _fallback_uniques(arr, codes, G):
    """Reference: per-group unique_counts over reordered slices."""
    is_list = pa.types.is_list(arr.type)
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(G + 1))
    if is_list:
        taken = arr.take(pa.array(order))
        lengths = taken.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
        values = taken.flatten().to_numpy(zero_copy_only=False)
        cum = np.concatenate([[0], np.cumsum(lengths.astype(np.int64))])
        vb = cum[bounds]
    else:
        values = arr.take(pa.array(order)).to_numpy(zero_copy_only=False)
        vb = bounds
    return [unique_counts(values[int(vb[g]) : int(vb[g + 1])]) for g in range(G)]


@pytest.mark.parametrize(
    "vals,dtype",
    [
        ([[1, 5, 5, 2], [7], [2, 2], [1, 9, 9]], pa.int32()),
        ([[-4, 0, 3], [3, 3, -4], [], [60000]], pa.int64()),
        ([[0, 1], [40000, 40000], [7]], pa.uint32()),
    ],
)
def test_grouped_unique_counts_matches_fallback(vals, dtype):
    arr = pa.array(vals, type=pa.list_(dtype))
    codes = np.arange(len(vals), dtype=np.int64) % 2
    G = 2
    got = _grouped_unique_counts(arr, codes, G)
    assert got is not None
    ref = _fallback_uniques(arr, codes, G)
    for (gu, gc), (ru, rc) in zip(got, ref):
        assert np.array_equal(gu, ru) and np.array_equal(gc, rc)
        assert gu.dtype == ru.dtype


def test_grouped_unique_counts_falls_back_when_unsuitable():
    # null ELEMENT → None (fallback handles null dropping)
    arr = pa.array([[1, None], [2]], type=pa.list_(pa.int64()))
    assert _grouped_unique_counts(arr, np.array([0, 1]), 2) is None
    # huge sparse range (hashed values) → None
    arr2 = pa.array([[1, 2**62], [5]], type=pa.list_(pa.int64()))
    assert _grouped_unique_counts(arr2, np.array([0, 1]), 2) is None
    # range just past the bincount gate (same gate as unique_counts) → None
    arr4 = pa.array([[0], [10_000_000]], type=pa.list_(pa.int64()))
    assert _grouped_unique_counts(arr4, np.array([0, 1]), 2) is None
    # float column → None
    arr3 = pa.array([[1.5], [2.5]], type=pa.list_(pa.float64()))
    assert _grouped_unique_counts(arr3, np.array([0, 1]), 2) is None


def test_consume_partials_states_identical_between_paths(monkeypatch):
    rng = np.random.default_rng(3)
    rows = 400
    tokens = [rng.integers(0, 997, rng.integers(0, 40)).astype("int32") for _ in range(rows)]
    groups = [f"g{i % 3}" for i in range(rows)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(groups), pa.array(tokens, type=pa.list_(pa.int32()))],
        names=["g", "toks"],
    )
    specs = [
        ("h", "hll", "toks", {"p": 10, "seed": 7}, None),
        ("c", "cms", "toks", {"w": 256, "d": 3, "seed": 7}, None),
        ("b", "bloom", "toks", {"m": 1 << 14, "k": 5, "seed": 7}, None),
    ]

    def run(force_fallback):
        import sketchlib.agg as agg

        if force_fallback:
            monkeypatch.setattr(agg, "_grouped_unique_counts", lambda *a, **k: None)
        out = list(_consume_partials(iter([batch]), ["g"], [pa.string()], specs, 0))
        monkeypatch.undo()
        return pa.Table.from_batches(out).to_pandas().sort_values(["g", "sketch"])

    a, b = run(False), run(True)
    assert list(a["n_updates"]) == list(b["n_updates"])
    assert list(a["n_rows"]) == list(b["n_rows"])
    assert all(bytes(x) == bytes(y) for x, y in zip(a["state"], b["state"]))
