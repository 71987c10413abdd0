"""The one read path for sketch state blobs: ``codec.unpack(data, kind)``
is the only kind check, and ``agg.load_state`` decodes a blob once."""

import json
import struct

import numpy as np
import pytest

from sketchlib import (
    HLL,
    KLL,
    KMV,
    BloomFilter,
    CountMinSketch,
    CountSketch,
    CuckooFilter,
    DDSketch,
    FrequentDirections,
    LossyCounter,
    QuotientFilter,
    Reservoir,
    SpaceSaving,
    TDigest,
    TopK,
)
from sketchlib import codec
from sketchlib.agg import KERNELS, load_state
from sketchlib.codec import SketchCodecError, pack, read_kind, unpack


def _kernels():
    """One small, updated kernel of every class that has a state blob."""
    ints = np.arange(300, dtype=np.int64)
    floats = np.linspace(0.0, 1.0, 300)
    out = [
        CountSketch(64, 3),
        BloomFilter(1 << 12, 3),
        CountMinSketch(256, 3),
        HLL(8),
        KMV(16),
        LossyCounter(0.01),
        SpaceSaving(16),
        TopK(3, w=128, d=3),
    ]
    for k in out:
        k.update(ints)
    for k in (TDigest(50.0), KLL(16), DDSketch(0.02), Reservoir(8)):
        k.update(floats)
        out.append(k)
    fd = FrequentDirections(4, 3)
    fd.update(np.arange(15, dtype=np.float64).reshape(5, 3))
    cuckoo = CuckooFilter(n_buckets=64)
    quotient = QuotientFilter(8, 8)
    for k in (cuckoo, quotient):
        k.update(ints[:20])
    return out + [fd, cuckoo, quotient]


KERNEL_OBJS = _kernels()


def test_every_state_class_is_covered():
    classes = {type(k) for k in KERNEL_OBJS}
    assert set(KERNELS.values()) | {CuckooFilter, QuotientFilter} == classes
    assert len({read_kind(k.to_bytes()) for k in KERNEL_OBJS}) == 15


@pytest.mark.parametrize("i", range(len(KERNEL_OBJS)), ids=lambda i: type(KERNEL_OBJS[i]).__name__)
def test_from_bytes_of_another_kind_is_a_codec_error(i):
    cls = type(KERNEL_OBJS[i])
    own = read_kind(KERNEL_OBJS[i].to_bytes())
    other = KERNEL_OBJS[(i + 1) % len(KERNEL_OBJS)].to_bytes()
    got = read_kind(other)
    assert got != own
    with pytest.raises(SketchCodecError, match=f"expected {own} state, got {got}"):
        cls.from_bytes(other)
    # the class still reads its own blob
    assert cls.from_bytes(KERNEL_OBJS[i].to_bytes()).to_bytes() == KERNEL_OBJS[i].to_bytes()


def test_codec_error_is_a_value_error():
    with pytest.raises(ValueError):
        HLL.from_bytes(CountMinSketch(64, 2).to_bytes())


class _CountingCodec:
    def __init__(self, inner):
        self.inner, self.calls = inner, 0

    def decompress(self, *args, **kwargs):
        self.calls += 1
        return self.inner.decompress(*args, **kwargs)


def test_load_state_decompresses_once(monkeypatch):
    cms = CountMinSketch(2048, 4)
    cms.update(np.arange(1000, dtype=np.int64))
    blob = cms.to_bytes()
    assert blob[5] & codec._FLAG_ZSTD  # the payload is compressed
    counter = _CountingCodec(codec._ZSTD_D)
    monkeypatch.setattr(codec, "_ZSTD_D", counter)
    assert read_kind(blob) == "cms"
    assert counter.calls == 0  # the kind read leaves the payload alone
    out = load_state(blob)
    assert counter.calls == 1
    assert out.to_bytes() == blob


def test_load_state_unknown_kind_is_a_codec_error():
    blob = pack("nosuchsketch", {"seed": 1}, b"\x00" * 8)
    assert unpack(blob)[0] == "nosuchsketch"
    with pytest.raises(SketchCodecError, match="unknown state kind 'nosuchsketch'"):
        load_state(blob)


@pytest.mark.parametrize("header", [{"seed": 1}, {"kind": 7}, {"kind": ["hll"]}])
def test_header_without_a_string_kind_is_a_codec_error(header):
    raw = json.dumps(header).encode()
    blob = codec.MAGIC + struct.pack("<BBI", codec.VERSION, 0, len(raw)) + raw
    with pytest.raises(SketchCodecError, match="corrupt state header"):
        read_kind(blob)
    with pytest.raises(SketchCodecError, match="corrupt state header"):
        load_state(blob)
