"""Versioned binary codec for sketch state.

Canonical on-wire form (mirrors the reference's serde contract — params
header + raw state array is sufficient to reconstruct, see
/root/reference/src/hyperloglog/serde.rs:14-23 and
hyperloglog/mod.rs:129-144): a fixed magic, a version byte, a flags
byte, a JSON params header (kind, seed, shape parameters), then the
state payload. Merge validates header equality, mirroring the
reference's buildhasher/parameter asserts (countminsketch.rs:271-284).

This module is the only place that reads a blob's header: kernels'
``from_bytes`` call ``unpack(data, cls.kind)``, which rejects a blob of any
other kind with :class:`SketchCodecError` (a ``ValueError``), and
``agg.load_state`` dispatches on :func:`read_kind`, which parses the
header without touching the payload, so any blob is decoded once.

Payloads compress transparently when that actually shrinks them:
per-partition CMS tables / Bloom bitsets are mostly zeros at typical
fill, and at cluster scale the stage-1→stage-2 shuffle is entirely
state rows, so 10-50× smaller blobs directly shrink the only shuffle
in the job. The codec is zstd level 1 via pyarrow (r6: measured vs the
previous zlib-1 on representative partials — CMS 327 KB: 3.07→1.61 ms
and 49→33 KB; near-full Bloom bitset 131 KB: 3.76→0.06 ms, both
incompressible-input short-circuit and ratio improve — pack/unpack sat
at ~13% of the stage-1 consumer's per-file profile). zstd payloads
carry their raw length (8 bytes LE) because pyarrow's decompressor
needs it. zlib-flagged (pre-r6) and version-1 (pre-compression) blobs
still unpack.
"""

from __future__ import annotations

import json
import struct
import zlib

import pyarrow as _pa

_ZSTD_C = _pa.Codec("zstd", 1)
_ZSTD_D = _pa.Codec("zstd")

MAGIC = b"SKL1"
VERSION = 2
_FLAG_ZLIB = 1
_FLAG_ZSTD = 2


class SketchCodecError(ValueError):
    pass


class SketchParamMismatch(ValueError):
    """Raised when merging sketches whose params/seed headers differ."""


def pack(kind: str, params: dict, payload: bytes) -> bytes:
    header = json.dumps(
        {"kind": kind, **params}, sort_keys=True, separators=(",", ":")
    ).encode()
    flags = 0
    if len(payload) >= 256:
        packed = struct.pack("<Q", len(payload)) + _ZSTD_C.compress(
            payload, asbytes=True
        )
        if len(packed) < len(payload) * 0.9:
            payload = packed
            flags |= _FLAG_ZSTD
    return MAGIC + struct.pack("<BBI", VERSION, flags, len(header)) + header + payload


def _header(data: bytes) -> tuple[dict, int, int]:
    """Parse the fixed header and the JSON params of a state blob:
    ``(params with "kind", flags, payload offset)``. Touches no payload
    byte; every malformed header raises :class:`SketchCodecError`."""
    if bytes(data[:4]) != MAGIC:
        raise SketchCodecError("bad magic: not a sketchlib state blob")
    try:
        version = data[4]
        if version == 1:
            hlen = struct.unpack_from("<I", data, 5)[0]
            off, flags = 9, 0
        elif version == VERSION:
            flags, hlen = struct.unpack_from("<BI", data, 5)
            off = 10
        else:
            raise SketchCodecError(f"unsupported state version {version}")
    except (struct.error, IndexError) as e:  # truncated fixed header
        raise SketchCodecError(f"truncated state header: {e}") from e
    try:
        header = json.loads(bytes(data[off : off + hlen]).decode())
        # valid non-dict JSON (array/scalar) or a non-string kind from a
        # corrupt header must surface as the codec's typed error, not a
        # TypeError deep in a caller (ADVICE r5)
        if not isinstance(header, dict) or not isinstance(header["kind"], str):
            raise KeyError(f"no string kind in {header!r}")
    except (ValueError, KeyError, UnicodeDecodeError) as e:
        # truncated/corrupt header — normalize to the codec's typed
        # error so callers need exactly one except clause
        raise SketchCodecError(f"corrupt state header: {e}") from e
    return header, flags, off + hlen


def read_kind(data: bytes) -> str:
    """The kind named in a state blob's header; the payload is not read."""
    return _header(data)[0]["kind"]


def unpack(data: bytes, kind: str | None = None) -> tuple[str, dict, bytes]:
    """``(kind, params, raw payload)`` of a state blob. With ``kind``
    given, a blob of any other kind raises :class:`SketchCodecError`
    before its payload is read: this is the one kind check every
    kernel's ``from_bytes`` relies on."""
    header, flags, off = _header(data)
    got = header.pop("kind")
    if kind is not None and got != kind:
        raise SketchCodecError(f"expected {kind} state, got {got}")
    payload = bytes(data[off:])
    if flags & _FLAG_ZSTD:
        try:
            (rawlen,) = struct.unpack_from("<Q", payload, 0)
            payload = _ZSTD_D.decompress(payload[8:], rawlen, asbytes=True)
        except Exception as e:  # truncated/corrupt blob → codec error
            raise SketchCodecError(f"corrupt compressed state payload: {e}") from e
    elif flags & _FLAG_ZLIB:
        try:
            payload = zlib.decompress(payload)
        except zlib.error as e:  # truncated/corrupt blob → codec error
            raise SketchCodecError(f"corrupt compressed state payload: {e}") from e
    return got, header, payload


def check_mergeable(kind: str, a_params: dict, b_params: dict) -> None:
    if a_params != b_params:
        raise SketchParamMismatch(
            f"cannot merge {kind} sketches with different params: "
            f"{a_params} != {b_params}"
        )
